"""Input layouts and expected answers.

Layouts are parquet directories.  ``sf0.01`` and ``sf0.001`` are the
benchmark's own copies of the fixture star schema (seed 42).  ``x<F>`` is
the sf0.01 copy scaled F-fold by ``tools/make_scaled_sf.py`` into the cache;
its bytes are checked against ``layouts.json``.

Expected answers are digests of canonicalised frames.  They come from the
DuckDB oracles of the registry (cached per layout and oracle text), or, for
an entry without an oracle (``ann_ivf``), from ``digests.json``, recorded
from the seed code at that layout.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_cache"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def checksum(layout: Path) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        h.update((layout / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def describe(layout: Path) -> dict:
    import pyarrow.parquet as pq

    return {t: {"rows": pq.ParquetFile(layout / f"{t}.parquet").metadata.num_rows,
                "bytes": (layout / f"{t}.parquet").stat().st_size} for t in TABLES}


def prepare_layout(name: str) -> tuple[Path, dict]:
    """Return (directory, record) for a layout, building a scaled one on
    first use.  Raises if the bytes differ from the recorded checksum."""
    expected = json.loads((HERE / "layouts.json").read_text())
    if name.startswith("x"):
        out = CACHE / "layouts" / name
        if not (out / ".done").exists():
            _build_scaled(int(name[1:]), out)
    else:
        out = HERE / "data" / name
    got = checksum(out)
    if expected.get(name) not in (None, got):
        raise RuntimeError(f"layout {name}: checksum {got} != recorded {expected[name]}")
    return out, {"name": name, "sha256": got, "tables": describe(out)}


def _build_scaled(factor: int, out: Path) -> None:
    spec = importlib.util.spec_from_file_location(
        "make_scaled_sf", ROOT / "tools" / "make_scaled_sf.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SRC = HERE / "data" / "sf0.01"
    out.mkdir(parents=True, exist_ok=True)
    with contextlib.redirect_stdout(io.StringIO()):  # it reports per table
        for t in TABLES:
            mod.scale_table(t, factor, out)
    (out / ".done").touch()


def digest(df) -> str:
    """Order-insensitive, dtype-strict digest of a result frame (the same
    canonical form as ``surrealdb_spark.testing.compare_frames``)."""
    from surrealdb_spark.testing import canonicalize

    c = canonicalize(df)
    h = hashlib.sha256(repr([(k, str(c[k].dtype)) for k in c.columns]).encode())
    h.update(c.to_csv(index=False).encode())
    return h.hexdigest()


class Answers:
    """Expected digest per registry entry at one layout."""

    def __init__(self, layout_name: str, layout: Path, layout_sha: str):
        self.layout = layout
        self.key = layout_sha[:16]
        self.path = CACHE / "oracle" / f"{layout_name}.json"
        self.cache = json.loads(self.path.read_text()) if self.path.exists() else {}
        recorded = json.loads((HERE / "digests.json").read_text())
        self.recorded = recorded.get(layout_name, {})

    def expected(self, name: str, oracle_sql: str | None) -> str:
        if name in self.recorded:
            return self.recorded[name]
        if oracle_sql is None:
            raise KeyError(f"{name}: no oracle and no recorded digest")
        k = hashlib.sha256((self.key + oracle_sql).encode()).hexdigest()
        if k not in self.cache:
            from surrealdb_spark.testing import duckdb_run

            self.cache[k] = digest(duckdb_run(oracle_sql, str(self.layout)))
            self.path.parent.mkdir(parents=True, exist_ok=True)
            tmp = self.path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(self.cache, indent=1))
            tmp.replace(self.path)
        return self.cache[k]
