"""Names, units and directions of every metric the benchmark reports.

BENCHMARK.json lists the same metrics; ``spread.py --check-manifest``
verifies that the two agree.  Every metric here is reported by every
workload: a layer a workload's timed operations do not use still gets
its value from that workload's traced cross-checks (README.md says
which).  Breakdowns by query and by pipeline stage are in the trace
artifact, not in this list.
"""

from __future__ import annotations

QUERIES = ('dedup_incremental', 'web_host_pagerank')
KERNELS = ('html_clean', 'normalize', 'sweep', 'money', 'time',
           'lexicon_trie', 'link', 'total')

# name, unit, better, bound (share of the parent's median)
END_TO_END = (
    ('setup_s', 's', 'lower', 0.25),
    ('run_s', 's', 'lower', 0.25),
    ('rows_per_s', '1/s', 'higher', 0.25),
    ('worker_peak_rss_mb', 'MB', 'lower', 0.1),
)

OPERATOR_COUNTERS = (
    ('jobs', 'count', 'lower'), ('stages', 'count', 'lower'),
    ('tasks', 'count', 'lower'), ('shuffle_write_bytes', 'bytes', 'lower'),
    ('shuffle_records', 'count', 'lower'), ('spill_bytes', 'bytes', 'lower'),
    ('executor_run_s', 's', 'lower'), ('executor_cpu_s', 's', 'lower'),
    ('task_skew', 'ratio', 'lower'), ('core_busy_ratio', 'ratio', 'higher'),
)
CATALOG_COUNTERS = (
    ('publish_s', 's', 'lower'), ('commit_gap_s', 's', 'lower'),
    ('is_complete_s', 's', 'lower'), ('files_written', 'count', 'lower'),
    ('bytes_written', 'bytes', 'lower'),
)
DRIVER_COUNTERS = (
    ('gap_s', 's', 'lower'), ('build_s', 's', 'lower'),
    ('py4j_calls', 'count', 'lower'),
)


def per_layer() -> list[tuple[str, str, str]]:
    m = [('sources.scan_s', 's', 'lower'),
         ('sources.input_files', 'count', 'lower'),
         ('sources.input_bytes', 'bytes', 'lower')]
    for p in ('first', 'repeat'):
        m += [(f'kernels.{k}.{p}_us_per_doc', 'us', 'lower') for k in KERNELS]
    m += [('functions.udf_python_s', 's', 'lower'),
          ('functions.arrow_batches', 'count', 'lower')]
    m += [(f'operators.{k}', u, b) for k, u, b in OPERATOR_COUNTERS]
    m += [(f'catalog.{k}', u, b) for k, u, b in CATALOG_COUNTERS]
    m += [('catalog.stored_bytes_per_input_byte', 'ratio', 'lower')]
    m += [(f'driver.{k}', u, b) for k, u, b in DRIVER_COUNTERS]
    m += [('driver.jvm_peak_rss_mb', 'MB', 'lower'),
          ('driver.unsteady_queries', 'count', 'lower')]
    m += [('trace.overhead_s', 's', 'lower'),
          ('trace.overhead_ratio', 'ratio', 'lower')]
    return m
