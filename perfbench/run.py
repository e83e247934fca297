#!/usr/bin/env python3
"""graft benchmark: seeded inputs, closed-loop passes, oracle gate.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the harness (`perfbench/harness`) from the
checkout's sources on first use (sbt, offline; output under `target/`
directories and `.bench_build/`), generates the workload's input from
the seed (`perfbench/gen.py`), runs it in one JVM on
`GraftSession.local(nproc)` and checks every query's result against its
DuckDB oracle with `tools/oracle_check.py`.

Prints a human-readable report, then, as the last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the `end_to_end`
metrics of BENCHMARK.json with `--trace 0`, its `per_layer` metrics
with `--trace 1`. With `--trace 1` the report also carries each span's
self time and each operator call's figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / 'perfbench'
HARNESS = BENCH / 'harness'
WORK = ROOT / '.bench_build'

# Per workload: input size as fact rows of the sf0.01 fixture kept per
# mille, and the time of a timed pass on a 4-core box, which sets how many
# passes `--seconds` buys. The pass count is then fixed for the run, so
# every run of a workload takes the same number of samples.
SCALE = {
    'assoc_chain': (500, 4.3),
    'llm_dedup': (900, 8.0),
}
HEAP = '2g'
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke',
    'java.base/java.lang.reflect', 'java.base/java.io',
    'java.base/java.net', 'java.base/java.nio',
    'java.base/java.util', 'java.base/java.util.concurrent',
    'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs',
    'java.base/sun.security.action', 'java.base/sun.util.calendar',
]


def die(msg, code=1):
    print(f'perfbench: {msg}', file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads, to reuse a finished build."""
    h = hashlib.sha1()
    files = [ROOT / 'build.sbt', ROOT / 'project' / 'build.properties']
    for base in (ROOT / 'src' / 'main', HARNESS):
        files += sorted(p for p in base.rglob('*')
                        if p.is_file() and 'target' not in p.relative_to(base).parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if 'SBT_OPTS' not in env:
        opts = ['-Dsbt.offline=true', '-Xmx2g']
        repos = Path.home() / '.sbt' / 'repositories'
        if repos.is_file():
            opts += ['-Dsbt.override.build.repos=true',
                     f'-Dsbt.repository.config={repos}']
        env['SBT_OPTS'] = ' '.join(opts)
    return env


def build():
    """Compile library + harness once per source digest; the classpath."""
    digest = source_digest()
    stamp = WORK / 'classpath.txt'
    if stamp.is_file():
        lines = stamp.read_text().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1], digest
    WORK.mkdir(exist_ok=True)
    log = WORK / 'build.log'
    with open(log, 'w') as f:
        r = subprocess.run(
            ['sbt', '-batch', '-Dsbt.log.noformat=true',
             'compile', 'export Runtime/fullClasspath'],
            cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=f,
            text=True, timeout=BUILD_TIMEOUT_S)
        f.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or '[error]' in r.stdout:
        sys.stderr.write(''.join(open(log).readlines()[-40:]))
        die(f'build failed (log: {log})')
    classpath = lines[-1].strip()
    stamp.write_text(f'{digest}\n{classpath}\n')
    return classpath, digest


def git_sha():
    if not (ROOT / '.git').exists():
        return None
    r = subprocess.run(['git', 'rev-parse', 'HEAD'], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def oracle_gate(data, gate, queries):
    """Per-query verdicts from tools/oracle_check.py on the gate output."""
    r = subprocess.run(
        [sys.executable, str(ROOT / 'tools' / 'oracle_check.py'),
         str(data), str(gate), ','.join(queries)],
        capture_output=True, text=True, timeout=120, cwd=gate)
    verdict = {}
    for line in r.stdout.splitlines():
        name, _, rest = line.partition(': ')
        if name in queries:
            verdict[name] = rest.strip()
    for q in queries:
        verdict.setdefault(q, 'MISSING from oracle_check output')
    return verdict


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile), or None with ten samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return None
    return s[n - 11], 100.0 * (n - 10) / n


def median(xs):
    return statistics.median(xs)


def main():
    started = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in SCALE:
        die(f'unknown workload {a.workload}; one of {", ".join(SCALE)}', 2)
    if not (ROOT / 'build.sbt').is_file() or not (ROOT / 'src' / 'main').is_dir() \
            or not (ROOT / 'tools' / 'oracle_check.py').is_file():
        die(f'{ROOT} is not a graft checkout (no build.sbt, src/main '
            'or tools/oracle_check.py)', 2)
    spec = json.loads((ROOT / 'BENCHMARK.json').read_text())

    classpath, digest = build()
    keep, pass_s = SCALE[a.workload]
    passes = max(2, round(a.seconds / pass_s))
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f'run-{os.getpid()}'
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = run_dir / 'data', run_dir / 'out', run_dir / 'tmp'
    for d in (out, tmp):
        d.mkdir(parents=True)
    try:
        t0 = time.perf_counter()
        rows = gen.generate(BENCH / 'fixture', data, a.seed, keep)
        gen_s = time.perf_counter() - t0
        java = Path(os.environ['JAVA_HOME']) / 'bin' / 'java' \
            if 'JAVA_HOME' in os.environ else 'java'
        # a fixed heap, touched in full at start, so the resident peak does
        # not depend on when G1 grows the heap or how many of its regions
        # the young generation (sized from pause times, so from the box's
        # load) gets to touch
        cmd = [str(java), f'-Xms{HEAP}', f'-Xmx{HEAP}', '-XX:+AlwaysPreTouch']
        for p in JDK17_OPENS:
            cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
        cmd += [f'-Djava.io.tmpdir={tmp}', f'-Dspark.local.dir={tmp}',
                f'-Dspark.sql.warehouse.dir={run_dir / "warehouse"}',
                '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
                '-cp', classpath, 'graftbench.Main',
                '--workload', a.workload, '--data', str(data), '--out', str(out),
                '--cores', str(cores), '--passes', str(passes),
                '--seconds', str(a.seconds),
                '--trace', str(a.trace)]
        # few malloc arenas, so native memory does not grow with how often
        # the JVM's threads happen to contend in malloc
        env = dict(os.environ, MALLOC_ARENA_MAX='2')
        launch_ms = time.time() * 1000
        with open(run_dir / 'jvm.log', 'w') as log:
            r = subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=log,
                               env=env, timeout=RUN_TIMEOUT_S)
        if r.returncode != 0 or not (out / 'result.json').is_file():
            sys.stderr.write(''.join(open(run_dir / 'jvm.log').readlines()[-40:]))
            die(f'harness exited with {r.returncode}')
        res = json.loads((out / 'result.json').read_text())
        queries = res['queries']
        jvm_s = time.time() - launch_ms / 1000
        t0 = time.perf_counter()
        verdict = oracle_gate(data, out / 'gate', queries)
        print(f'phases: warm {res["warm_s"]:.1f} s, timed {res["timed_s"]:.1f} s, '
              f'jvm {jvm_s:.1f} s, oracle check {time.perf_counter() - t0:.1f} s',
              file=sys.stderr)
        report(a, spec, res, rows, gen_s, launch_ms, verdict, queries,
               cores, digest, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, spec, res, rows, gen_s, launch_ms, verdict, queries, cores, digest,
           started):
    # set-up = input generation + JVM boot + session start + warm-up
    boot_s = (res['main_ms'] - launch_ms) / 1000
    setup = gen_s + boot_s + res['session_s'] + res['warm_s']
    lat = res['query_s']
    per_query = [median(xs) for xs in res['query_s_by_name'].values() if xs]
    if not per_query:
        die('no query ran to its result')
    mismatched = sorted(q for q, v in verdict.items()
                        if not v.startswith('MATCH') and not v.startswith('VERIFY-ERR'))
    failed = res['failed'] + len(mismatched)
    attempted = res['attempted']
    host = dict(res['host'], nproc=cores, git_sha=git_sha(), source_digest=digest[:12])

    print(f'workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  '
          f'trace {a.trace}  closed loop, 1 client')
    print('host ' + '  '.join(f'{k}={v}' for k, v in host.items()))
    print('input rows ' + '  '.join(f'{t}={n}' for t, n in rows.items()))
    print(f'setup_s            {setup:10.4f} s   one set-up '
          f'(input generation {gen_s:.3f} s, JVM boot {boot_s:.3f} s, '
          f'session {res["session_s"]:.3f} s, warm-up {res["warm_s"]:.3f} s)')
    print(f'pass_s             {median(res["pass_s"]):10.4f} s   '
          f'median of {len(res["pass_s"])} passes of {len(queries)} queries: '
          + ' '.join(f'{x:.3f}' for x in res['pass_s']))
    print(f'query_s.p50        {median(per_query):10.4f} s   '
          f'median of {len(per_query)} per-query medians, n={len(lat)}')
    t = tail(lat)
    print(f'query_s.tail       {t[0]:10.4f} s   p{t[1]:.1f}, n={len(lat)} '
          '(report only: too few samples for a real tail)' if t else
          f'query_s.tail              n/a     n={len(lat)}: no percentile has 10 samples beyond it')
    print(f'error_rate         {failed / attempted:10.4f}     '
          f'{failed} failed of {attempted} executions')
    print(f'rss_peak_mb        {res["rss_peak_mb"]:10.1f} MB  VmHWM of the JVM')
    for q in queries:
        xs = res['query_s_by_name'][q]
        p50 = f'{median(xs):10.4f} s' if xs else '    failed  '
        print(f'query {q:32s} {p50}   n={len(xs)}')
    for name, msg in res['errors'].items():
        print(f'error {name}: {msg}')
    for q in queries:
        print(f'oracle {q}: {verdict[q]}')

    e2e = {
        'setup_s': setup,
        'pass_s': median(res['pass_s']),
        'query_s.p50': median(per_query),
        'rss_peak_mb': res['rss_peak_mb'],
    }
    if a.trace:
        tr = res['trace']
        layers = dict(tr['layers'])
        layers['trace.pass_s'] = median(tr['pass_s'])
        layers['trace.overhead_s'] = layers['trace.pass_s'] - median(res['pass_s'])
        print(f'traced pass_s {median(tr["pass_s"]):.4f} s over {len(tr["pass_s"])} '
              f'passes; untraced {median(res["pass_s"]):.4f} s over '
              f'{len(res["pass_s"])} passes (u t t u); '
              f'overhead {layers["trace.overhead_s"]:+.4f} s')
        for k in sorted(layers):
            print(f'layer {k:48s} {layers[k]:14.6g}')
        for s in tr['spans']:
            print(f'span {s["layer"]:16s} {s["name"]:36s} n={s["n"]:<3d} '
                  f'total {s["total_s"]:9.4f} s  self {s["self_s"]:9.4f} s')
        wanted, values = spec['per_layer'], layers
    else:
        wanted, values = spec['end_to_end'], e2e
    print(f'run wall {time.perf_counter() - started:.1f} s')
    missing = [m['name'] for m in wanted if m['name'] not in values]
    if missing:
        die(f'metrics not measured: {", ".join(missing)}')
    print(json.dumps({
        'correct': not mismatched and not res['errors'],
        'attempted': attempted,
        'failed': failed,
        'metrics': {m['name']: {'value': values[m['name']], 'unit': m['unit']}
                    for m in wanted},
    }))


if __name__ == '__main__':
    main()
