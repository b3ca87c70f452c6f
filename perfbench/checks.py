"""Output checks, run outside the timed region.

- ``content_hash``: an order-independent multiset hash of a table's rows,
  computed by Spark in one job, so two sinks that hold the same rows in
  any file layout or order hash equal, while a lost or duplicated row
  changes the hash.
- ``Oracles``: DuckDB results for the declared queries, computed with
  ``tests/parity.py``'s ``run_oracle`` and cached per (fixture bytes,
  oracle text) under the checkout's cache dir; ``check_query`` compares a
  collected Spark result with ``parity.compare``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import tempfile

import pandas as pd

MASK64 = (1 << 64) - 1


def content_hash(df, exclude: tuple[str, ...] = ("processed_at",)) -> tuple[int, int]:
    """(row count, sum of 64-bit row hashes mod 2**64) of a Spark
    DataFrame over its columns not in ``exclude``, taken in name order.

    Summing makes the hash independent of row order and file layout; a
    dropped row plus a duplicated different row changes it. Rows are
    hashed as their JSON text so a NULL moving between columns changes
    the hash (``xxhash64`` alone skips NULL inputs)."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c not in exclude)
    row = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    n, total = df.agg(F.count(F.lit(1)), F.sum(row)).first()
    return n, int(total or 0) & MASK64


def load_parity(root: str):
    """``tests/parity.py`` of the checkout, imported by path."""
    spec = importlib.util.spec_from_file_location("parity", os.path.join(root, "tests", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_digest(sf_dir: str) -> str:
    h = hashlib.blake2b(digest_size=16)
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()


class _Collected:
    """A collected result in the shape ``parity.compare`` reads."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class Oracles:
    def __init__(self, parity, sf_dir: str, cache_dir: str) -> None:
        self.parity = parity
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.digest = fixture_digest(sf_dir)
        os.makedirs(cache_dir, exist_ok=True)

    def frame(self, sql: str) -> pd.DataFrame:
        key = hashlib.blake2b((self.digest + "\n" + sql).encode(), digest_size=16).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        pdf = self.parity.run_oracle(sql, self.sf_dir)
        fd, tmp = tempfile.mkstemp(dir=self.cache_dir, suffix=".tmp")
        os.close(fd)
        pdf.to_pickle(tmp)
        os.replace(tmp, path)
        return pdf

    def check_query(self, name: str, sql: str, got: pd.DataFrame) -> str | None:
        """None when ``got`` matches the oracle, else the mismatch."""
        try:
            self.parity.compare(_Collected(got), self.frame(sql), name)
        except AssertionError as e:
            return str(e)[:300]
        return None
