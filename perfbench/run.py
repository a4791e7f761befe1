#!/usr/bin/env python3
"""Closed-loop benchmark of the KG pipeline and its driver-bound queries.

    python3 perfbench/run.py --workload <name> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root.  One Python process starts a local Spark
session on every core it may use and builds the workload's inputs from
``--seed``; that set-up is repeated and its median reported.  Then
operations run one at a time, each starting when the previous one
returned, after untimed warm-up operations: for ``e2e_lazy_1k``, until
``--seconds`` have passed or its input is used up; for
``iterative_1k``, one pass.  Every output is checked; the last line of
stdout is the JSON result, and the exit code is non-zero when a check
failed.
``--trace 1`` mixes untraced and traced operations, reports the
per-layer metrics and the tracing overhead instead, and writes every
span to ``perfbench/out/``.

Everything a run writes stays under ``perfbench/.work`` and
``perfbench/out``.  perfbench/README.md describes the workloads and
what each metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, '.work')
OUT = os.path.join(HERE, 'out')

SETUP_REPS = 3
KERNEL_SLICE_PAGES = 2000


def log(msg: str) -> None:
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed: int, run_id: str, provenance: dict):
        self.spark = spark
        self.seed = seed
        self.run_id = run_id
        self.provenance = provenance
        self.facts: dict = {}
        self.log = log

    def dir(self, name: str, fresh: bool = False) -> str:
        path = os.path.join(WORK, 'runs', self.run_id, name)
        if fresh:
            shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        return path


def confine_to_checkout() -> dict:
    """Point the scratch locations of Spark, the JVM and Python into
    the work dir before the JVM starts; → Spark conf to pass on."""
    tmp = os.path.join(WORK, 'tmp')
    local = os.path.join(WORK, 'spark-local')
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ['TMPDIR'] = tmp
    tempfile.tempdir = None
    os.environ['SPARK_LOCAL_DIRS'] = local
    # every JVM, the launcher's too: no hsperfdata files outside
    os.environ['JAVA_TOOL_OPTIONS'] = (f'-Djava.io.tmpdir={tmp} '
                                       '-XX:-UsePerfData')
    return {
        'spark.local.dir': local,
        'spark.sql.warehouse.dir': os.path.join(WORK, 'warehouse'),
    }


def lexicon_provenance() -> dict:
    """Source and sizes of the lexicons the pipeline loads.  The
    loaders fall back to the vendored subset when the configured
    dictionary dir is missing, so 'full' is decided by comparing the
    sizes with the ones loaded without any dictionary dir."""
    from jionlp_spark import lexicons

    def sizes() -> dict:
        cell, area = lexicons.load_phone_location()
        return {
            'cell_prefixes': len(cell), 'area_codes': len(area),
            'operators': len(lexicons.load_telecom_operator()),
            'admin_divisions': len(lexicons.load_admin_divisions()),
            'admin_codes': len(lexicons.admin_code_map()),
            'location_changes': len(lexicons.load_location_changes()),
            'town_villages': len(lexicons.load_town_villages()),
            'location_words': len(lexicons.location_ner_words()),
        }

    env = os.environ.get('JIONLP_SPARK_DICT_DIR')
    loaded = sizes()
    vendored = loaded
    if env:
        del os.environ['JIONLP_SPARK_DICT_DIR']
        try:
            vendored = sizes()
        finally:
            os.environ['JIONLP_SPARK_DICT_DIR'] = env
    return {'source': 'vendored' if loaded == vendored else 'full',
            'dict_dir_env': env, 'sizes': loaded}


def check_provenance(prov: dict) -> str | None:
    """Results of one checkout are comparable only under one lexicon
    provenance: the first run records it, later runs must match."""
    stamp = os.path.join(WORK, 'provenance.json')
    key = {'source': prov['source'], 'sizes': prov['sizes']}
    if not os.path.exists(stamp):
        with open(stamp, 'w') as f:
            json.dump(key, f)
        return None
    with open(stamp) as f:
        first = json.load(f)
    if first != key:
        return (f'lexicon provenance {key} differs from the earlier runs '
                f'in this checkout {first}; delete {stamp} to start a new '
                'series')
    return None


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants
    gw = SparkContext._gateway
    proc = getattr(gw, 'proc', None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


class OpFailed(Exception):
    """Too few timed ops succeeded to compute the metrics."""

    def __init__(self, attempted: int, failed: int) -> None:
        super().__init__(f'{failed} of {attempted} operations failed')
        self.attempted, self.failed = attempted, failed


def file_stats(files) -> tuple[int, int]:
    return len(files), sum(os.path.getsize(f) for f in files)


def op_plan(w, trace: int) -> tuple[int, int | None]:
    """(fewest, most) timed ops.  A workload that measures the first op
    over its input times exactly that one; its traced run adds three."""
    if w.measures_first:
        return (4, 4) if trace else (1, 1)
    return (4 if trace else w.min_ops), None


def traced_op(w, i: int) -> bool:
    """Which ops of a traced run carry tracing.  Steady-state workloads
    alternate untraced and traced ops.  A workload that measures its
    first op traces that one, so the layer counters describe what
    timing runs measure, and then a later op between two untraced ones,
    whose mean is the overhead reference."""
    return i in (0, 2) if w.measures_first else i % 2 == 1


def layer_ops(w, ops: list) -> tuple[list, tuple]:
    """→ (counters the layer metrics come from, tracing overhead as
    (seconds, share of the untraced wall))."""
    traced = [o for o in ops if o['traced']]
    untraced = [o['wall'] for o in ops if not o['traced']]
    if w.measures_first:
        tw, uw, use = traced[1]['wall'], statistics.mean(untraced), traced[:1]
    else:
        tw, uw = median([o['wall'] for o in traced]), median(untraced)
        use = traced
    return [o['counters'] for o in use], (tw - uw, (tw - uw) / uw)


def layer_metrics(traced: list, catalog: list, kernels: dict,
                  scan_s: float, input_stats: tuple, overhead: tuple,
                  facts: dict, unsteady: int) -> dict:
    """Per-layer metrics: medians over the traced ops' counters, the
    catalog's totals over ``catalog`` = (counters of the spans that
    exercised it, how many ops they make up), and the driver-local
    kernel and scan timings."""
    from perfbench.metrics import (CATALOG_COUNTERS, DRIVER_COUNTERS,
                                   OPERATOR_COUNTERS, per_layer)

    def med(key):
        return median([c[key] for c in traced])

    m = {'sources.scan_s': scan_s,
         'sources.input_files': input_stats[0],
         'sources.input_bytes': input_stats[1]}
    for p, per_kernel in kernels.items():
        for k, v in per_kernel.items():
            m[f'kernels.{k}.{p}_us_per_doc'] = v
    m['functions.udf_python_s'] = med('udf_python_s')
    m['functions.arrow_batches'] = med('arrow_batches')
    for k, _u, _b in OPERATOR_COUNTERS:
        m[f'operators.{k}'] = med(k)
    for k, _u, _b in CATALOG_COUNTERS:
        vals = [sum(c[k].values()) if k == 'publish_s' else c[k]
                for c in catalog[0]]
        m[f'catalog.{k}'] = sum(vals) / catalog[1]
    stored = facts.get('stored_bytes', m['catalog.bytes_written'])
    m['catalog.stored_bytes_per_input_byte'] = stored / input_stats[1]
    for k, _u, _b in DRIVER_COUNTERS:
        m[f'driver.{k}'] = med(k)
    m['driver.jvm_peak_rss_mb'] = facts['jvm_peak_rss_mb']
    m['driver.unsteady_queries'] = unsteady
    m['trace.overhead_s'], m['trace.overhead_ratio'] = overhead
    units = {name: unit for name, unit, _b in per_layer()}
    if set(m) != set(units):
        raise RuntimeError(f'per-layer metrics out of step with '
                           f'metrics.per_layer(): {set(m) ^ set(units)}')
    return {k: (m[k], units[k]) for k in units}


def run(args, spark, prov: dict, cores: int, run_id: str, env: dict) -> dict:
    from perfbench.kernels_timing import time_kernels
    from perfbench.metrics import END_TO_END
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS, kernel_slice

    ctx = Context(spark, args.seed, run_id, prov)
    w = WORKLOADS[args.workload](ctx)
    tracer = Tracer(spark, run_id, bool(args.trace), ctx.dir('trace'))
    try:
        setup_times = []
        for rep in range(SETUP_REPS):
            t = time.time()
            w.setup(rep, SETUP_REPS)
            setup_times.append(time.time() - t)

        t = time.time()
        warm = w.warmup(tracer)
        warmup_s = time.time() - t
        attempted, failed = len(warm), sum(not ok for ok in warm)

        fewest, most = op_plan(w, args.trace)
        ops, part_walls = [], {}
        with RssSampler() as rss:
            deadline = time.time() + args.seconds
            while len(ops) < (most or len(ops) + 1):
                use_trace = bool(args.trace) and traced_op(w, len(ops))
                try:
                    o = w.op(tracer, use_trace)
                except Exception:  # noqa: BLE001 - counted, then reported
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                    break
                if o is None:  # the workload's input is used up
                    break
                attempted += 1
                failed += not o.ok
                op = {'traced': use_trace, 'rows': o.rows,
                      'wall': o.span['end'] - o.span['start'],
                      'counters': None}
                if use_trace:
                    op['counters'] = tracer.counters(o.span, cores)
                    for rec in o.parts.values():
                        tracer.counters(rec, cores)
                ops.append(op)
                for name, rec in o.parts.items():
                    part_walls.setdefault(name, []).append(
                        round(rec['end'] - rec['start'], 4))
                if time.time() >= deadline and len(ops) >= fewest:
                    break
        if len(ops) < fewest:
            raise OpFailed(attempted, failed)

        check_counters = []
        for name, ok, rec in w.check(tracer):
            attempted += 1
            failed += not ok
            if args.trace:
                check_counters.append(tracer.counters(rec, cores))

        summary = {'workload': args.workload, 'seed': args.seed,
                   'session_s': env['session_s'], 'setup_runs_s': setup_times,
                   'warmup_s': warmup_s,
                   'op_walls_s': [(o['wall'], o['traced']) for o in ops],
                   'part_walls_s': part_walls,
                   'attempted': attempted, 'failed': failed,
                   'failed_ops_ratio': failed / attempted,
                   'unsteady': w.unsteady}
        summary['peak_rss_mb'] = {k: v / 2 ** 20 for k, v in rss.peak.items()}
        ctx.facts['jvm_peak_rss_mb'] = summary['peak_rss_mb']['jvm']
        if not args.trace:
            # the timed ops' summed wall over their count: the first
            # few still run while the JVM compiles, so a median of five
            # jumps between the early and the late level
            untraced = [o for o in ops if not o['traced']]
            wall = sum(o['wall'] for o in untraced)
            values = {'setup_s': median(setup_times),
                      'run_s': wall / len(untraced),
                      'rows_per_s': sum(o['rows'] for o in untraced) / wall,
                      'worker_peak_rss_mb':
                          rss.peak['python_workers'] / 2 ** 20}
            metrics = {n: (values[n], u) for n, u, _b, _bd in END_TO_END}
        else:
            traced, overhead = layer_ops(w, ops)
            scans = []
            for _ in range(3):
                with tracer.span('scan', traced=False) as rec:
                    w.scan().collect()
                scans.append(rec['end'] - rec['start'])
            pages = kernel_slice(spark, args.seed, KERNEL_SLICE_PAGES)
            kernels = time_kernels(pages)
            metrics = layer_metrics(
                traced, ((check_counters, 1) if check_counters
                         else (traced, len(traced))),
                kernels, median(scans),
                file_stats(w.input_files()), overhead, ctx.facts,
                len(w.unsteady))
            artifact = os.path.join(OUT, f'trace_{run_id}.json')
            tracer.dump(artifact, {
                'summary': summary, 'env': env,
                'kernel_slice_pages': len(pages),
                'metrics': {k: v for k, (v, _u) in metrics.items()}})
            print(f'trace artifact: {os.path.relpath(artifact, ROOT)}')
        print('summary ' + json.dumps(summary, default=str))
        for k, (v, u) in metrics.items():
            print(f'  {k:44s} {v:>16.6g} {u}')
        return {'correct': failed == 0, 'attempted': attempted,
                'failed': failed,
                'metrics': {k: {'value': v, 'unit': u}
                            for k, (v, u) in metrics.items()}}
    finally:
        tracer.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ('jionlp_spark', '__spark_entry__.py'):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f'{need} not found beside perfbench/: run from a checkout '
                'of the repository')
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f'unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}')
        return 2

    load_before = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    os.environ['SPARK_GRAFT_CPUS'] = str(cores)
    run_id = f'{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}'
    conf = confine_to_checkout()
    prov = lexicon_provenance()
    refusal = check_provenance(prov)
    if refusal:
        log(refusal)
        return 3

    import pyarrow
    import pyspark

    from jionlp_spark.config import get_spark

    t0 = time.time()
    spark = get_spark('perfbench', master=f'local[{cores}]', extra_conf=conf)
    spark.sparkContext.setLogLevel('ERROR')
    env = {'nproc': cores, 'spark': pyspark.__version__,
           'pyarrow': pyarrow.__version__, 'python': sys.version.split()[0],
           'load_1min_before': load_before, 'lexicons': prov,
           'session_s': time.time() - t0}
    print('env ' + json.dumps(env, sort_keys=True), flush=True)
    try:
        result = run(args, spark, prov, cores, run_id, env)
    except OpFailed as e:
        log(str(e))
        result = {'correct': False, 'attempted': e.attempted,
                  'failed': e.failed, 'metrics': {}}
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, 'runs', run_id), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result['correct'] else 1


if __name__ == '__main__':
    sys.exit(main())
