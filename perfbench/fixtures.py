"""Seeded input fixtures, cached by every generation parameter.

bench.ensure_pages keys its cache by doc count alone, so two fixtures
that differ in seed, skew or file layout collide. Here the cache key is a
hash of the full parameter set, and a fixture is published by renaming a
finished temp directory, so a crashed generation never looks complete.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# Only this many fixtures are kept (enough for 10 seeds x 2 workloads x
# 2 page sets); the least recently used go first.
CACHE_KEEP = 48


def _key(params: dict) -> str:
    blob = json.dumps(params, sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def pages(cache_dir: str, *, n_docs: int, seed: int, n_files: int,
          row_group_rows: int, hot_host_frac: float = 0.0,
          min_tokens: int = 20, max_tokens: int = 400) -> str:
    """A pages parquet directory from glcmstream.fixtures, generated once
    per distinct parameter set. Files carry strictly increasing mtimes
    and rows are in event-time order, so a stream over them drops
    nothing to the watermark."""
    from glcmstream import fixtures
    params = {"gen": "glcmstream.fixtures.write_pages_parquet", "v": 1,
              "n_docs": n_docs, "seed": seed, "n_files": n_files,
              "row_group_rows": row_group_rows,
              "hot_host_frac": hot_host_frac, "min_tokens": min_tokens,
              "max_tokens": max_tokens}
    out = os.path.join(cache_dir, f"pages-{_key(params)}")
    if os.path.isdir(out):
        os.utime(out)
        return out
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    fixtures.write_pages_parquet(
        tmp, n_docs=n_docs, seed=seed, n_files=n_files,
        hot_host_frac=hot_host_frac, min_tokens=min_tokens,
        max_tokens=max_tokens, row_group_rows=row_group_rows)
    with open(os.path.join(tmp, "_params.json"), "w") as f:
        json.dump(params, f, sort_keys=True)
    os.replace(tmp, out)
    _evict(cache_dir)
    return out


def base_docs_for_rows(rows: int) -> int:
    """gen_pages appends int(0.1 * n) recrawl rows to n docs; the n that
    yields exactly `rows` rows (or the nearest below)."""
    n = int(rows / 1.1)
    while n + int(n * 0.1) < rows:
        n += 1
    while n + int(n * 0.1) > rows:
        n -= 1
    return n


def copy_tree(src: str, dst: str) -> list[str]:
    """Copy a fixture's parquet files (mtimes preserved); returns the
    sorted file names."""
    os.makedirs(dst, exist_ok=True)
    names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
    for n in names:
        shutil.copy2(os.path.join(src, n), os.path.join(dst, n))
    return names


def _evict(cache_dir: str) -> None:
    entries = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
               if d.startswith("pages-") and ".tmp-" not in d]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def row_counts(pages_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq
    return {n: pq.ParquetFile(os.path.join(pages_dir, n)).metadata.num_rows
            for n in sorted(os.listdir(pages_dir)) if n.endswith(".parquet")}

