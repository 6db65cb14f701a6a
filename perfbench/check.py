"""Correctness gate: committed results against a batch reference.

The streamed result is read back from the sink: the latest committed
emission per key (update mode re-emits a key each epoch it changes), or
for the sliding workload the windows finalized from the committed pane
emissions. It is compared with a batch computation over the same input
files by an independent route:

- backfill_fused: no Spark at all. A process pool reads every row group
  with pyarrow and featurizes its html with kernel.featurize_htmls; the
  driver then groups the features by (10-minute window, lang, host) in
  pandas. Only the kernel is shared with the streamed path;
- backfill_sliding_skew: state.batch_glcm_agg_sliding, which sums GLCM
  counts per window from the html with no state and no panes;
- trickle_tumbling: state.batch_glcm_agg, which sums GLCM counts per key
  with no state.

The result must hold as many rows as the reference and no key twice.
Then an order-insensitive row hash (the sum mod 2^64 of per-row hashes,
so a repeated row does not cancel out; doubles at 9 significant digits)
is compared. If it differs, a keyed comparison decides: keys and integer
columns must be equal and doubles equal within a relative 1e-9, since a
streamed average adds its terms in another order than the batch one.
Every epoch holding a wrong, extra or repeated row counts as failed, as
does a missing key.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import numpy as np
import pandas as pd

# glcmstream.config.HARALICK_FEATURES, named here so this module imports
# before the engine's sources are on the path
FEATURES = ("contrast", "dissimilarity", "homogeneity", "energy",
            "correlation", "asm")

FUSED_KEYS = ["window_start", "window_end", "lang", "host"]
FUSED_INTS = ["n_docs"]
FUSED_FLOATS = [f"avg_{n}" for n in FEATURES] + ["max_contrast"]

STATE_KEYS = ["lang", "host", "window_start"]
STATE_INTS = ["n_docs"]
STATE_FLOATS = list(FEATURES)

RTOL = 1e-9


def _flat_window(df):
    from pyspark.sql import functions as F
    return df.select(F.col("window.start").alias("window_start"),
                     F.col("window.end").alias("window_end"),
                     *[c for c in df.columns if c != "window"])


def _latest(df, keys):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.partitionBy(*keys).orderBy(F.col("epoch").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn"))


def featurize_split(split) -> pd.DataFrame:
    """Per-document features of one (path, row group) split; runs in a
    pool worker."""
    import pyarrow.parquet as pq
    from glcmstream import kernel
    path, rg = split
    t = pq.ParquetFile(path).read_row_group(
        rg, columns=["url", "warc_ts", "lang", "html"])
    feats = kernel.featurize_htmls(t.column("html").to_pylist())
    return pd.DataFrame({"url": t.column("url").to_pylist(),
                         "warc_ts": t.column("warc_ts").to_pandas(),
                         "lang": t.column("lang").to_pylist(),
                         **{n: feats[n] for n in FEATURES}})


def fused_reference(pool, splits: list) -> pd.DataFrame:
    from glcmstream import config
    df = pd.concat(pool.map(featurize_split, splits), ignore_index=True)
    width = pd.Timedelta(config.TUMBLING_WINDOW)
    # Spark's tumbling windows are aligned to the epoch, as floor() is
    df["window_start"] = df["warc_ts"].dt.floor(width)
    df["window_end"] = df["window_start"] + width
    df["host"] = [urlsplit(u).netloc for u in df["url"]]
    ref = df.groupby(FUSED_KEYS, sort=False).agg(
        n_docs=("url", "size"),
        **{f"avg_{n}": (n, "mean") for n in FEATURES},
        max_contrast=("contrast", "max")).reset_index()
    return _ns_windows(ref)


def _ns_windows(df: pd.DataFrame) -> pd.DataFrame:
    for c in ("window_start", "window_end"):
        df[c] = df[c].astype("datetime64[ns]")
    return df


def latest_fused(spark, table) -> pd.DataFrame:
    return _ns_windows(_latest(_flat_window(table.read(spark)),
                               FUSED_KEYS).toPandas())


def stateful_reference(spark, pages_dir: str) -> pd.DataFrame:
    from glcmstream import state, stream
    return state.batch_glcm_agg(
        stream.read_pages_batch(spark, pages_dir)).toPandas()


def sliding_reference(spark, pages_dir: str) -> pd.DataFrame:
    from glcmstream import state, stream
    return state.batch_glcm_agg_sliding(
        stream.read_pages_batch(spark, pages_dir)).toPandas()


def latest_stateful(spark, table) -> pd.DataFrame:
    return _latest(table.read(spark), STATE_KEYS).toPandas()


def row_hash(df: pd.DataFrame, keys, ints, floats) -> str:
    acc = 0
    for row in df[keys + ints + floats].itertuples(index=False):
        parts = [str(v) for v in row[:len(keys) + len(ints)]]
        parts += [format(v, ".9g") for v in row[len(keys) + len(ints):]]
        h = hashlib.blake2b("\x1f".join(parts).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % 2**64
    return format(acc, "016x")


@dataclass
class Mismatch:
    rows: int = 0
    ref_rows: int = 0
    hash_equal: bool = False
    wrong: int = 0
    missing: int = 0
    extra: int = 0
    repeated: int = 0
    epochs: set = field(default_factory=set)

    def failed(self) -> bool:
        return bool(self.wrong or self.missing or self.extra
                    or self.repeated or self.rows != self.ref_rows)

    def summary(self) -> dict:
        return {"rows": self.rows, "ref_rows": self.ref_rows,
                "hash_equal": self.hash_equal, "wrong": self.wrong,
                "missing": self.missing, "extra": self.extra,
                "repeated": self.repeated,
                "failed_epochs": sorted(self.epochs)}


def compare(got: pd.DataFrame, ref: pd.DataFrame, keys, ints, floats
            ) -> Mismatch:
    m = Mismatch(rows=len(got), ref_rows=len(ref))
    rep = got.duplicated(keys, keep=False)
    m.repeated = int(rep.sum())
    m.hash_equal = (len(got) == len(ref) and not m.repeated and
                    row_hash(got, keys, ints, floats)
                    == row_hash(ref, keys, ints, floats))
    if m.hash_equal:
        return m
    j = got.merge(ref, on=keys, how="outer", suffixes=("", "_ref"),
                  indicator=True)
    extra = j["_merge"] == "left_only"
    missing = j["_merge"] == "right_only"
    both = j["_merge"] == "both"
    wrong = np.zeros(len(j), dtype=bool)
    for c in ints:
        wrong |= both & (j[c] != j[f"{c}_ref"])
    for c in floats:
        a = j[c].to_numpy(dtype=float)
        b = j[f"{c}_ref"].to_numpy(dtype=float)
        close = np.isclose(a, b, rtol=RTOL, atol=0.0, equal_nan=True)
        wrong |= both.to_numpy() & ~close
    m.extra, m.missing, m.wrong = int(extra.sum()), int(missing.sum()), \
        int(wrong.sum())
    if "epoch" in j:
        m.epochs = {int(e) for e in j[extra | wrong]["epoch"]}
        m.epochs |= {int(e) for e in got[rep]["epoch"]}
        if m.missing:
            # a key the stream never committed: charge its last epoch
            m.epochs.add(int(got["epoch"].max()) if len(got) else 0)
    return m
