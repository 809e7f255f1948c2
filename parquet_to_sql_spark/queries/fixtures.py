"""Content-keyed on-disk fixture caching for file-source gate queries.

Some gate queries (source_warc_files, pipeline_crawl_ingest_files)
synthesize deterministic shard FILES under a temp dir once and reuse
them across sessions.  The cache key must change whenever the
synthesis RECIPE changes, or an edited recipe silently reuses stale
files and the query output diverges from its updated oracle (ADVICE
r11: the former hardcoded 'v1' token required a manual bump nobody
enforced).  ``fixture_cache_dir`` derives the version token from a
sha256 over the SOURCE of every function that shapes the bytes — the
query build function itself (its inline synthesis loop and fixture
constants) plus the operator-level writers it calls — so any recipe
edit re-keys the directory automatically and the stale copy is
simply never looked at again.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import tempfile


_COUNT_MEMO: dict[str, int] = {}
# the documents file signature each memoized count was taken from
_COUNT_SIGS: dict[str, tuple] = {}


def corpus_count(spark, sf_dir: str) -> int:
    """Memoized ``documents`` row count per sf dir (VERDICT r11
    "What's wrong" #3 hygiene): fixture synthesis and modular edge
    arithmetic need the corpus size DRIVER-side before the plan can
    run, but re-counting on every query BUILD made each build an
    eager full-table action.  One count per (sf dir, documents file
    signature) — parquet row-group metadata only — and every
    subsequent build is a dict hit; a corpus rewritten in place
    (new size or mtime) is counted again."""
    from parquet_to_sql_spark.catalog import load_table, table_path
    from parquet_to_sql_spark.sources.parquet import file_signature

    key = os.path.normpath(sf_dir)
    sig = file_signature(table_path(sf_dir, "documents"))
    if key not in _COUNT_MEMO or _COUNT_SIGS.get(key) != sig:
        _COUNT_MEMO[key] = load_table(spark, sf_dir, "documents").count()
        _COUNT_SIGS[key] = sig
    return _COUNT_MEMO[key]


def fixture_cache_dir(
    kind: str, sf_dir: str, n: int, *recipe_fns
) -> tuple[str, str]:
    """Return ``(root, dest)`` for a file-fixture cache: ``root`` is
    the per-kind parent under the system temp dir, ``dest`` the
    content-keyed subdirectory ``{sfname}-n{n}-{token}`` where token
    hashes the source code of every ``recipe_fns`` entry.  Callers
    keep the established write protocol: synthesize into
    ``mkdtemp(dir=root)`` then ``os.rename`` onto ``dest`` (atomic;
    losing a concurrent race means the winner's identical files are
    reused)."""
    h = hashlib.sha256()
    for fn in recipe_fns:
        h.update(inspect.getsource(fn).encode())
    token = h.hexdigest()[:10]
    sfname = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(tempfile.gettempdir(), kind)
    return root, os.path.join(root, f"{sfname}-n{n}-{token}")
