"""Seeded benchmark inputs, cached on disk and pinned by digest.

Two tables per seed:

* ``corpus`` -- the engine's ``(repo, path, commit, lang, content)`` table,
  made by ``corpus.gen_batch`` over an id range offset by the seed;
* ``typed`` -- six column types like the reference's Embulk types (long,
  double, bool, timestamp, low-cardinality string, JSON string), made here
  with numpy from the seed.

A cache entry is keyed by ``(seed, rows, hash of the generator sources)``.
Every load recomputes each table's row count and content digest and compares
them with the entry's own record and, for seeds listed in ``pins.json``,
with the pinned values -- plus a small fixed-id canary that every seed
checks. A change to ``corpus.py`` that alters the inputs therefore stops
the benchmark instead of moving its numbers.

Record pins after an intended generator change with::

    python3 -m perfbench.inputs --record 0 40
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")

# Sized so that per-row work, not the fixed cost of a Spark job, is most of
# an ingest's wall. Warm encode_job walls on local[4] (4 vCPUs) fit
# 1.9 s + 50 ms per 1k rows for the corpus (16k to 128k rows) and
# 3.2 s + 6.5 ms per 1k rows for the typed table (120k to 960k rows).
# Per-row work passes the fixed part at 38k and 490k rows; each table is
# sized about a quarter past that: about 150 MB and 45 MB raw.
CORPUS_ROWS = 48_000
TYPED_ROWS = 600_000
# ids of seed s are s * ID_STRIDE + [0, rows): disjoint for every seed
ID_STRIDE = 10_000_000
# rows added by the maintain phase come from above the corpus
FRESH_ID_BASE = 5_000_000
CANARY_IDS = np.arange(7_000_000_000, 7_000_000_064, dtype=np.int64)
MAX_SEED = 2**31 - 1

CORPUS_KEY = "commit"
TYPED_KEY = "c_long"
_CATS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa", "lambda", "mu"]


class InputMismatch(RuntimeError):
    """Generated inputs differ from what was recorded for them."""


def _gen_sources() -> list[str]:
    from embulk_output_s3_parquet_spark import corpus

    return [corpus.__file__, os.path.abspath(__file__)]


def source_hash() -> str:
    h = hashlib.sha256()
    for path in _gen_sources():
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _corpus_slice(ids: np.ndarray, n_repos: int) -> pa.Table:
    from embulk_output_s3_parquet_spark import corpus

    return pa.Table.from_pandas(corpus.gen_batch(ids, n_repos), preserve_index=False)


def corpus_table(seed: int, rows: int = CORPUS_ROWS, procs: int = 1) -> pa.Table:
    """Every cell is a pure function of its row id, so slices generated in
    ``procs`` worker processes concatenate to the single-process table.

    A new seed pays for generation outside the timed figures but inside
    the run: 48k rows take 7.7 s in one process and 3.0-3.3 s in four."""
    ids = np.arange(rows, dtype=np.int64) + seed * ID_STRIDE
    n_repos = max(4, rows // 200)
    if procs <= 1:
        return _corpus_slice(ids, n_repos)
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(procs, mp_context=multiprocessing.get_context("spawn")) as ex:
        parts = list(ex.map(_corpus_slice, np.array_split(ids, procs), [n_repos] * procs))
    return pa.concat_tables(parts).combine_chunks()


def fresh_rows(seed: int, offset: int, rows: int) -> pa.Table:
    """Corpus rows from the seed's id range above the corpus (trickle
    appends, merge inserts): fresh ids, so fresh commit keys."""
    ids = np.arange(rows, dtype=np.int64) + (seed * ID_STRIDE + FRESH_ID_BASE + offset)
    return _corpus_slice(ids, max(4, CORPUS_ROWS // 200))


def typed_table(seed: int, rows: int = TYPED_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 0x7E4ED])
    c_long = 1_000_000 + np.cumsum(rng.integers(1, 64, rows))
    price = np.round(rng.gamma(2.0, 40.0, rows), 2)
    price_null = rng.random(rows) < 0.01
    flag = rng.random(rows) < 0.3
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(0, 5_000_000, rows)
    ).astype("timedelta64[us]")
    cat_w = 1.0 / np.arange(1, len(_CATS) + 1) ** 1.2
    cat_i = rng.choice(len(_CATS), rows, p=cat_w / cat_w.sum())
    cat_null = rng.random(rows) < 0.01
    cats = [None if cat_null[i] else _CATS[cat_i[i]] for i in range(rows)]
    qty = rng.integers(0, 1000, rows)
    js = [
        f'{{"id":{int(c_long[i])},"tag":"{_CATS[cat_i[i]]}","qty":{int(qty[i])}}}'
        for i in range(rows)
    ]
    return pa.table(
        {
            "c_long": pa.array(c_long, pa.int64()),
            "c_double": pa.array(price, pa.float64(), mask=price_null),
            "c_bool": pa.array(flag, pa.bool_()),
            "c_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "c_cat": pa.array(cats, pa.string()),
            "c_json": pa.array(js, pa.string()),
        }
    )


def digest(table: pa.Table) -> str:
    """Content digest over column names, types, values and null positions;
    independent of chunking and of the Arrow IPC/parquet byte layout."""
    h = hashlib.sha256()
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        h.update(f"{name}:{col.type}:{len(col)}\n".encode())
        h.update(np.asarray(col.is_null()).tobytes())
        if pa.types.is_string(col.type):
            valid = col.drop_null()
            h.update(np.asarray(pc.binary_length(valid), dtype=np.int64).tobytes())
            offsets = np.frombuffer(valid.buffers()[1], dtype=np.int32,
                                    count=len(valid) + 1, offset=4 * valid.offset)
            h.update(memoryview(valid.buffers()[2])[offsets[0]:offsets[-1]])
        else:
            storage = col.cast(pa.int64()) if pa.types.is_timestamp(col.type) else col
            h.update(np.asarray(storage.fill_null(False if pa.types.is_boolean(col.type) else 0)).tobytes())
    return h.hexdigest()


def row_shas(table: pa.Table, key: str, value: str) -> dict:
    """``{key: sha256(value) or None}`` -- the per-row oracle of the
    content round trip (None for a null value)."""
    keys = table.column(key).to_pylist()
    vals = table.column(value).to_pylist()
    return {
        k: None if v is None else hashlib.sha256(v.encode()).hexdigest()
        for k, v in zip(keys, vals)
    }


def _load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


def check_canary(pins: dict) -> None:
    from embulk_output_s3_parquet_spark import corpus

    t = pa.Table.from_pandas(corpus.gen_batch(CANARY_IDS, 80), preserve_index=False)
    if digest(t) != pins["canary"]:
        raise InputMismatch(
            "corpus.gen_batch output changed for the fixed canary ids; "
            "record new pins only if the change is intended"
        )


class Inputs:
    """One seed's cached inputs: parquet files plus their recorded facts."""

    def __init__(self, directory: str, meta: dict):
        self.dir = directory
        self.meta = meta
        self.corpus_path = os.path.join(directory, "corpus.parquet")
        self.typed_path = os.path.join(directory, "typed.parquet")
        self.corpus = pq.read_table(self.corpus_path)
        self.typed = pq.read_table(self.typed_path)

    def raw_bytes(self, name: str) -> int:
        return self.meta[name]["raw_bytes"]

    def save_meta(self) -> None:
        tmp = os.path.join(self.dir, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(self.meta, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.dir, "meta.json"))


def _verify(name: str, got: dict, want: dict, where: str) -> None:
    for k in ("rows", "digest"):
        if want[k] != got[k]:
            raise InputMismatch(
                f"{name} input {k} {got[k]} differs from {where} {want[k]}"
            )


def load(cache_root: str, seed: int) -> Inputs:
    """Build (or reuse) the cached inputs of ``seed`` and verify them."""
    if not 0 <= seed <= MAX_SEED:
        raise ValueError(f"seed must be in [0, {MAX_SEED}]: {seed}")
    pins = _load_pins()
    check_canary(pins)
    key = f"s{seed}-c{CORPUS_ROWS}-t{TYPED_ROWS}-{source_hash()}"
    directory = os.path.join(cache_root, key)
    meta_path = os.path.join(directory, "meta.json")
    fresh = not os.path.exists(meta_path)
    if fresh:
        tmp = directory + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = {}
        procs = min(4, len(os.sched_getaffinity(0)))
        for name, table in (("corpus", corpus_table(seed, CORPUS_ROWS, procs)),
                            ("typed", typed_table(seed, TYPED_ROWS))):
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            meta[name] = {
                "rows": table.num_rows,
                "digest": digest(table),
                "raw_bytes": table.nbytes,
            }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(directory, ignore_errors=True)
        os.rename(tmp, directory)
    with open(meta_path) as f:
        meta = json.load(f)
    inputs = Inputs(directory, meta)
    pinned = pins["seeds"].get(str(seed), {})
    for name, table in (("corpus", inputs.corpus), ("typed", inputs.typed)):
        # a fresh record was just computed from the generated table
        if not fresh:
            got = {"rows": table.num_rows, "digest": digest(table)}
            _verify(name, got, meta[name], "the cache record")
        if name in pinned:
            _verify(name, meta[name], pinned[name], f"pins.json seed {seed}")
    return inputs


def record_pins(first: int, last: int) -> dict:
    from embulk_output_s3_parquet_spark import corpus

    canary = pa.Table.from_pandas(corpus.gen_batch(CANARY_IDS, 80), preserve_index=False)
    seeds = {}
    for seed in range(first, last + 1):
        seeds[str(seed)] = {
            name: {"rows": t.num_rows, "digest": digest(t)}
            for name, t in (("corpus", corpus_table(seed, CORPUS_ROWS, procs=4)),
                            ("typed", typed_table(seed, TYPED_ROWS)))
        }
    return {"canary": digest(canary), "seeds": seeds}


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "--record":
        sys.exit("usage: python3 -m perfbench.inputs --record FIRST_SEED LAST_SEED")
    pins = record_pins(int(sys.argv[2]), int(sys.argv[3]))
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
