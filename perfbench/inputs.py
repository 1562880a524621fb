"""Benchmark inputs and their expected outputs, generated from a workload
seed and cached under ``.perfbench/cache`` in the checkout.

Nothing here starts Spark. Expected outputs come from the serial crawl
oracles (``plans/oracle.py``) and are stored as order-insensitive row
hashes, so every timed unit can be checked without keeping rows around.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")
# bump when any generator below changes what it writes
INPUT_REV = 7
# row-group sizes the package writes its page-store files with
# (sources/corpus.py generate)
STORE_ROW_GROUPS = {"pages": 16384, "images": 4096}
_UNITS = {"": 1, "b": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


# ------------------------------------------------------------ hashing


def key_hash(key: str) -> int:
    """60-bit row digest: the first 15 hex digits of md5. Spark computes
    the same value with conv(substring(md5(key), 1, 15), 16, 10)."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def rows_digest(rows) -> dict:
    """Order-insensitive digest of tuples: row count and the sum of the
    rows' key hashes, the key being the fields joined by U+001F."""
    n = s = 0
    for r in rows:
        n += 1
        s += key_hash("\x1f".join(str(v) for v in r))
    return {"rows": n, "sum": str(s)}


def canon_cell(v) -> str:
    """One query result cell as text, the same for Spark and DuckDB frames."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(round(v, 9))
    s = str(v)
    return "NULL" if s in ("<NA>", "NaT", "nan") else s


def frame_digest(df) -> dict:
    """Order-insensitive digest of a pandas frame: its sorted column names,
    row count and the sum of its canonical rows' hashes."""
    cols = sorted(df.columns)
    rows = ([canon_cell(v) for v in row] for row in df[cols].itertuples(index=False, name=None))
    return {"cols": cols, **rows_digest(rows)}


def parse_bytes(size: str) -> int:
    """A Spark size string ("64m", "1747k", "10485760") in bytes."""
    s = size.strip().lower()
    num = s.rstrip("bkmgt")
    unit = s[len(num):].rstrip("b")
    return int(float(num) * _UNITS[unit])


def file_digest(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


# ------------------------------------------------------------ caching


def cached_json(path: str, build):
    """Load path, or build() the object, write it atomically and return it."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    obj = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
    return obj


def seed_dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE, f"r{INPUT_REV}", workload, f"seed{seed}")


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)
    return path


def scaled_store(store: dict[str, str], tag: str, scale: float) -> dict[str, str]:
    """The page store with its page and image files rewritten in row
    groups scaled by ``scale``: a parquet row group is read by one task,
    so at the package's sizes a small store would scan in one task."""
    d = os.path.join(CACHE, f"r{INPUT_REV}", "store", tag)
    out = dict(store)
    for name, rows in STORE_ROW_GROUPS.items():
        out[name] = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(out[name]):
            _write(pq.read_table(store[name]), out[name], max(1, int(rows * scale)))
    return out


def relabeled_serps(src: str, path: str, copies: int, seed: int) -> list[dict]:
    """Write ``copies`` copies of the google pages of the SERP store at
    ``src`` to ``path``, each with its own keywords: ``q=<kw>&`` becomes
    ``q=<kw>+c<i>s<seed>&`` in urls and bodies, so next-page links stay
    inside their copy. Rows are shuffled by the seed. Returns the rows."""
    import numpy as np

    base = [r for r in pq.read_table(src).to_pylist() if r["engine"] == "google"]
    rows = []
    for i in range(copies):
        label = f"c{i}s{seed}"
        for r in base:
            q = "q=" + r["keyword"].replace(" ", "+")
            old, new = q + "&", f"{q}+{label}&"
            rows.append(
                {
                    **r,
                    "url": r["url"].replace(old, new),
                    "keyword": f"{r['keyword']} {label}",
                    "body": r["body"].replace(old, new),
                }
            )
    rows = [rows[i] for i in np.random.default_rng(seed).permutation(len(rows))]
    if len({r["url"] for r in rows}) != len(rows):
        raise ValueError("relabeled SERP urls are not distinct")
    _write(pa.Table.from_pylist(rows, schema=pq.read_schema(src)), path)
    return rows


def page_urls(store: dict[str, str]) -> list[str]:
    return pq.read_table(store["pages"], columns=["url"]).column("url").to_pylist()


def write_seeds(path: str, urls: list[str], first_id: int = 0) -> str:
    return _write(
        pa.table(
            {
                "seed_id": pa.array(range(first_id, first_id + len(urls)), pa.int64()),
                "url": pa.array(urls, pa.string()),
                "priority": pa.array([0.5] * len(urls), pa.float64()),
            }
        ),
        path,
    )


def write_urls(path: str, urls: list[str]) -> str:
    return _write(pa.table({"url": pa.array(urls, pa.string())}), path)


def oracle_inputs(store: dict[str, str]):
    """(pages, budgets, robots) of a page store in the oracle's shape."""
    from scrapeulous_spark.plans.oracle import load_corpus_for_oracle

    pages, _seeds, budgets, robots = load_corpus_for_oracle(store)
    return pages, budgets, robots
