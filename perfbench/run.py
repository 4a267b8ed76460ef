#!/usr/bin/env python3
"""Repository benchmark: seeded workloads over the graft Spark pipeline.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
harness (perfbench/build.sbt compiles the program's sources with the
harness). Inputs are generated from the seed and cached per seed under
.bench_build/. The harness JVM runs the workload, the output checks run
here, and the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Every metric is also printed above it with its unit, with the
error rate and the box record. README.md lists the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import stats   # noqa: E402

BUILD = os.path.join(ROOT, '.bench_build')
BENCHMARK = os.path.join(ROOT, 'BENCHMARK.json')
WORKLOADS = ('dww_rebuild', 'llm_curation')
# fixed input sizes (also stated in BENCHMARK.json's workload lines)
DWW_CREDITS = 6000
# tools/gen_scale.py scale: 3,000 documents. Dedup.connectedComponents runs
# 2 or 3 rounds (19 or 29 Spark jobs, a sixth of a pass) depending on
# whether every near-dup component is already a star on its minimum id;
# at 500 or 2,000 documents that held on about one seed in five, so run_s
# split into two modes across seeds. The chance falls with the number of
# components.
LLM_SCALE = '0.06'
# heap fixed and pre-touched, so peak RSS does not follow GC heap sizing
HEAP = '2g'
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']


def die(msg):
    print(f'[perfbench] {msg}', file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, 'build.sbt'), os.path.join(HERE, 'project', 'build.properties')]
    for base in (os.path.join(ROOT, 'src', 'main', 'scala'), os.path.join(HERE, 'src')):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith('.scala')]
    for f in files:
        h.update(f.encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness with the program once per source state; returns
    the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, 'classpath.json')
    with open(os.path.join(BUILD, 'build.lock'), 'w') as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                cached = json.load(f)
            if cached['fingerprint'] == fp:
                return cached['classpath']
        env = dict(os.environ, COURSIER_MODE='offline')
        env.setdefault('SBT_OPTS', '-Dsbt.offline=true -Xmx2g')
        r = subprocess.run(['sbt', '-batch', '-Dsbt.log.noformat=true', 'compile',
                            'export Runtime/fullClasspath'],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or ':' not in lines[-1]:
            sys.stderr.write((r.stdout + r.stderr)[-4000:])
            die('harness build failed')
        with open(cp_file, 'w') as f:
            json.dump({'fingerprint': fp, 'classpath': lines[-1].strip()}, f)
        return lines[-1].strip()


def inputs(workload, seed):
    """Generate (once per seed) and return the workload's input directory."""
    kind = 'llm' if workload == 'llm_curation' else 'dww'
    size = DWW_CREDITS if kind == 'dww' else LLM_SCALE
    d = os.path.join(BUILD, 'data', f'{kind}-{size}-seed{seed}')
    if os.path.exists(os.path.join(d, '.done')):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if kind == 'dww':
        import gen_credits
        gen_credits.generate(d, seed, DWW_CREDITS)
    else:
        r = subprocess.run([sys.executable, os.path.join(ROOT, 'tools', 'gen_scale.py'),
                            d, LLM_SCALE, str(seed)],
                           capture_output=True, text=True, timeout=300)
        if r.returncode != 0:
            sys.stderr.write(r.stdout + r.stderr)
            die('corpus generation failed')
    open(os.path.join(d, '.done'), 'w').close()
    return d


def run_harness(classpath, workload, data, seconds, trace):
    work = os.path.join(BUILD, 'work', workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, 'tmp'))
    out = os.path.join(work, 'result.json')
    log = os.path.join(BUILD, 'logs', f'{workload}.log')
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (['java', f'-Xms{HEAP}', f'-Xmx{HEAP}', '-XX:+AlwaysPreTouch',
            '-XX:ReservedCodeCacheSize=512m',
            f'-Djava.io.tmpdir={work}/tmp', '-Dspark.ui.enabled=false',
            '-Dspark.sql.session.timeZone=UTC']
           + [a for p in JDK17_OPENS for a in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', classpath, 'graft.perfbench.Main', '--workload', workload,
              '--data', data, '--work', work, '--out', out,
              '--seconds', str(seconds), '--trace', str(trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, 'spark-local'))
    with open(log, 'w') as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f'harness timed out; log: {log}')
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f'harness exited with {rc}')
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    """The end-to-end metrics of one untraced run."""
    return {
        'setup_s': (statistics.median(res['setup_s']), 's'),
        'run_s': (min(res['samples']['unit_s']), 's'),
        'peak_rss_mb': (res['peak_rss_mb'], 'MB'),
    }


# one span per public-function call; `<span>_s` is its median self time
STAGE_SPANS = ['etl.normalize', 'io.write', 'analytics.jumps_docs', 'analytics.envelope',
               'analytics.density', 'analytics.paths', 'graph.pagerank',
               'graph.label_propagation', 'llm.quality', 'llm.exact_dedup', 'llm.signature',
               'llm.verify', 'llm.components', 'llm.decontaminate', 'llm.pack_split']


def per_layer(res):
    """Per-layer metrics of a traced run. A layer that does no work on this
    workload reports 0."""
    spans = res['trace']['spans']
    ctr = res['trace']['counters']
    layers = res.get('layers', {})
    out = res.get('outputs', {})
    selft = stats.self_times(spans)
    passes = {s['run'] for s in spans if s['name'].endswith('.pass')}

    def counter(field):
        return lambda s: ctr[str(s['id'])][field]

    def med(value, names):
        return stats.median_per_run(spans, value, names, passes)

    m = {}
    for sp in STAGE_SPANS:
        m[f'{sp}_s'] = (med(lambda s: selft[s['id']] / 1e9, [sp]), 's')
    for sp in STAGE_SPANS + ['queries.exec']:
        m[f'{sp}.jobs'] = (med(counter('jobs'), [sp]), 'count')
        m[f'{sp}.tasks'] = (med(counter('tasks'), [sp]), 'count')
        m[f'{sp}.gc_ms'] = (med(counter('gc_ms'), [sp]), 'ms')
    span_names = {x['name'] for x in spans}
    analytics = [s for s in span_names if s.startswith('analytics.')]
    llm = [s for s in span_names if s.startswith('llm.')]
    graph = ['graph.pagerank', 'graph.label_propagation']
    m['etl.shuffle_write_bytes'] = (med(counter('shuffle_write_bytes'), ['etl.normalize']), 'bytes')
    m['analytics.shuffle_write_bytes'] = (med(counter('shuffle_write_bytes'), analytics), 'bytes')
    m['llm.shuffle_write_bytes'] = (med(counter('shuffle_write_bytes'), llm), 'bytes')
    m['llm.spill_bytes'] = (med(counter('spill_bytes'), llm), 'bytes')
    m['graph.jobs'] = (med(counter('jobs'), graph), 'count')
    for key, unit in [('etl.rows_in', 'count'), ('etl.rows_out', 'count'),
                      ('etl.mapped_frac', 'ratio'), ('etl.dedup_dropped', 'count'),
                      ('io.bytes_written', 'bytes'),
                      ('functions.fuzz_ratio_ns_per_row', 'ns/row'),
                      ('functions.parse_notes_ns_per_row', 'ns/row'),
                      ('functions.minhash_ns_per_row', 'ns/row'),
                      ('llm.candidate_pairs', 'count'), ('llm.verified_edges', 'count')]:
        m[key] = (layers.get(key, 0), unit)
    c, e = layers.get('llm.candidate_pairs', 0), layers.get('llm.verified_edges', 0)
    m['llm.candidate_precision'] = (e / c if c else 0, 'ratio')
    real_rels = 0
    if 'envelope' in out:
        real_rels = sum(1 for d in json.loads(out['envelope'])['jumps']
                        for r in d['rels'] if not r['dummy'])
    m['analytics.jumps_per_credit'] = (real_rels / out['fact_rows'] if out.get('fact_rows') else 0,
                                       'ratio')
    m['analytics.paths_rows'] = (out.get('paths_rows', 0), 'count')
    plan = [s for s in spans if s['name'] == 'queries.plan']
    exe = [s for s in spans if s['name'] == 'queries.exec']
    dur = lambda s: (s['end_ns'] - s['start_ns']) / 1e6  # noqa: E731
    m['queries.plan_ms'] = (statistics.median(map(dur, plan)) if plan else 0, 'ms')
    m['queries.exec_ms'] = (statistics.median(map(dur, exe)) if exe else 0, 'ms')
    req_jobs = stats.per_run(spans, counter('jobs'), ['queries.plan', 'queries.exec'])
    req_jobs = [v for r, v in req_jobs.items() if r in {s['run'] for s in exe}]
    m['queries.jobs_per_request'] = (statistics.mean(req_jobs) if req_jobs else 0, 'count')
    # tracing overhead: the traced against the untraced phase of the run,
    # each taken as run_s is (its fastest pass)
    un, tr = res['samples'], res['traced_samples']
    m['trace.overhead_ms'] = ((min(tr['unit_s']) - min(un['unit_s'])) * 1000, 'ms')
    return m


def run_checks(workload, res, data):
    out = res.get('outputs', {})
    if workload == 'llm_curation':
        problems = checks.check_llm_curation(out, os.path.join(data, 'documents.parquet'))
        if res.get('layers', {}).get('trace.same_output_hash') is False:
            problems.append('traced composition output differs from the registry query')
        return problems
    with open(os.path.join(data, 'truth.json')) as f:
        return checks.check_dww_rebuild(out, json.load(f))


def declared(kind):
    with open(BENCHMARK) as f:
        return [m['name'] for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ('src/main/scala/graft', 'tools/gen_scale.py', 'BENCHMARK.json'):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f'{need} is missing: run from a full checkout of the repository')
    if shutil.which('sbt') is None or shutil.which('java') is None:
        die('sbt and java are required')

    t0 = time.time()
    classpath = build()
    data = inputs(a.workload, a.seed)
    res = run_harness(classpath, a.workload, data, a.seconds, a.trace)
    problems = run_checks(a.workload, res, data)
    s = res['samples']
    phases = [s] + ([res['traced_samples']] if a.trace else [])
    attempted = sum(p['attempted'] for p in phases)
    failed = attempted if problems else sum(p['failed'] for p in phases)
    correct = not problems and failed == 0

    metrics = per_layer(res) if a.trace else end_to_end(res)
    names = declared('per_layer' if a.trace else 'end_to_end')
    missing = [n for n in names if n not in metrics]
    if missing:
        die(f'metrics not produced: {missing}')

    print(f"[perfbench] box: {json.dumps(res['box'], sort_keys=True)}")
    n = len(s['unit_s'])
    print(f'[perfbench] {a.workload} seed={a.seed} passes={n} '
          f"warm-up={res['warmup_s']:.1f}s setups={res['setup_s']}")
    for k in sorted(metrics):
        v, unit = metrics[k]
        print(f'[perfbench] {k:<44} {v:>16.6g} {unit}')
    print(f'[perfbench] {"error_rate":<44} {failed / attempted:>16.6g} ratio')
    for p in problems:
        print(f'[perfbench] CHECK FAILED: {p}')
    print(f'[perfbench] check: {"ok" if not problems else "FAILED"}; '
          f'wall {time.time() - t0:.1f}s')

    result = {'correct': correct, 'attempted': attempted, 'failed': failed,
              'metrics': {k: {'value': metrics[k][0], 'unit': metrics[k][1]} for k in names}}
    rdir = os.path.join(BUILD, 'results')
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f'{a.workload}-seed{a.seed}-trace{a.trace}.json'), 'w') as f:
        json.dump(dict(result, box=res['box'], problems=problems, samples=n,
                       error_rate=failed / attempted), f, indent=1)
    print(json.dumps(result))


if __name__ == '__main__':
    main()
