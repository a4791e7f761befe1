"""Seeded inputs for the benchmark workloads.

* ``materialize_corpus`` writes the synthetic page corpus through the
  program's own ``sources.pages.write_pages`` into a directory keyed by
  (pages, seed, partitions, lexicon source), and verifies the row count
  from the parquet footers before anything reads it.
* ``write_documents`` writes a ``documents`` table shaped like the sf0.1
  test table (digit-free ``[a-z ]+`` text over a 30-word vocabulary, a
  few exact duplicates) from the seed alone, so the iterative queries
  need no data from outside the benchmark.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ('a the batch part spark line column order small sort fast value '
         'scan hash slow group agg filter query big key window row table '
         'stream merge data vector customer join').split()
LANGS = ('en', 'zh', 'es', 'fr', 'de')
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def footer_rows(path: str) -> int:
    """Rows in every visible parquet part under ``path``, from footers."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(('_', '.'))]
        for name in files:
            if name.endswith('.parquet') and not name.startswith(('_', '.')):
                total += pq.ParquetFile(
                    os.path.join(root, name)).metadata.num_rows
    return total


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the visible data files under ``path``."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(('_', '.'))]
        for name in names:
            if not name.startswith(('_', '.')):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


def tree_bytes(path: str) -> int:
    """Every byte stored under ``path``, metadata and snapshots included."""
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _dirs, names in os.walk(path) for n in names)


def corpus_key(pages: int, seed: int, partitions: int, lex_source: str) -> str:
    return f'pages_n{pages}_s{seed}_p{partitions}_{lex_source}'


def materialize_corpus(spark, base: str, pages: int, seed: int,
                       partitions: int, lex_source: str) -> str:
    """Write the corpus into a fresh staging dir, verify it from the
    footers, and publish it under its key (replacing any older copy)."""
    from jionlp_spark.sources.pages import write_pages

    path = os.path.join(base, corpus_key(pages, seed, partitions, lex_source))
    tmp = path + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    write_pages(spark, tmp, pages, seed=seed, num_partitions=partitions)
    got = footer_rows(tmp)
    if got != pages:
        raise RuntimeError(f'corpus {tmp}: {got} rows in footers, '
                           f'expected {pages}')
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def split_corpus(path: str, slices: int, pages: int) -> list[list[str]]:
    """The corpus's part files in partition order, cut into ``slices``
    equal groups, each verified from the footers to hold ``pages`` rows
    (the generator's partitions are contiguous page-id ranges)."""
    parts = sorted(os.path.join(path, n) for n in os.listdir(path)
                   if n.endswith('.parquet') and not n.startswith(('_', '.')))
    if len(parts) % slices:
        raise RuntimeError(f'corpus {path}: {len(parts)} parts do not '
                           f'split into {slices} slices')
    per = len(parts) // slices
    out = [parts[i:i + per] for i in range(0, len(parts), per)]
    for files in out:
        got = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if got != pages:
            raise RuntimeError(f'corpus {path}: a slice of {got} rows, '
                               f'expected {pages}')
    return out


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(' '.join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    # ~0.2% exact duplicates of an earlier document, as in the test table
    for i in rng.choice(np.arange(1, n_docs), size=max(1, n_docs // 600),
                        replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        'doc_id': pa.array(ids, pa.int64()),
        'text': pa.array(texts, pa.string()),
        'lang': pa.array([LANGS[k] for k in langs], pa.string()),
        'source': pa.array([f'src{i % N_SOURCES}' for i in ids], pa.string()),
        'n_chars': pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(sf_dir: str, seed: int, n_docs: int) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, 'documents.parquet')
    pq.write_table(documents_table(seed, n_docs), path)
    if footer_rows(sf_dir) != n_docs:
        raise RuntimeError(f'{path}: row count mismatch')
    return sf_dir
