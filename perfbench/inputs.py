"""Seeded inputs. Every table comes from the public ``synthetic.*``
generators driven by the run's seed, and is written as parquet with
pyarrow (no Spark, so staging never warms the session) into a fresh
directory keyed by a hash of (workload, seed, sizes, generator arguments).
The program under test receives only these parquet paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from wikibrain_spark.sources import synthetic

RINGS = pa.list_(pa.struct([
    ("ring_lat", pa.list_(pa.float64())),
    ("ring_lon", pa.list_(pa.float64())),
    ("is_hole", pa.bool_()),
]))
STR_MAP = pa.map_(pa.string(), pa.string())
BOUNDARIES = pa.schema([
    ("boundary_id", pa.int64()), ("qid", pa.string()), ("wikipedia", pa.string()),
    ("tags", STR_MAP), ("rings", RINGS),
])
IMAGES = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()), ("h", pa.int32()),
    ("fmt", pa.string()), ("caption", pa.string()), ("phash", pa.int64()),
])
ELEMENTS = pa.schema([
    ("element_id", pa.int64()), ("object_type", pa.string()), ("tags", STR_MAP),
    ("lat", pa.float64()), ("lon", pa.float64()),
])
WIKI_DIMS = {
    "wikidata": pa.schema([("qid", pa.string()), ("label_en", pa.string()), ("sitelinks", STR_MAP),
                           ("lat", pa.float64()), ("lon", pa.float64())]),
    "wikidata_claims": pa.schema([("qid", pa.string()), ("pid", pa.string()), ("value_str", pa.string()),
                                  ("value_qid", pa.string()), ("value_lat", pa.float64()),
                                  ("value_lon", pa.float64()), ("qualifier_pids", pa.list_(pa.string()))]),
    "wikipedia_pages": pa.schema([("lang", pa.string()), ("title", pa.string()), ("qid", pa.string())]),
    "wikipedia_redirects": pa.schema([("lang", pa.string()), ("from_title", pa.string()),
                                      ("to_title", pa.string())]),
    "wikidata_redirects": pa.schema([("from_qid", pa.string()), ("to_qid", pa.string())]),
    "ontology_edges": pa.schema([("child_qid", pa.string()), ("parent_qid", pa.string()), ("pid", pa.string())]),
    "disambig_links": pa.schema([("lang", pa.string()), ("title", pa.string()), ("out_title", pa.string()),
                                 ("ns", pa.int32())]),
}


def fresh_dir(root: str, workload: str, seed: int, params: dict) -> str:
    key = hashlib.sha256(json.dumps([workload, seed, params], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(root, f"{workload}-{key}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    # no dictionary pages: a replicated payload must cost what a unique one does
    table = pa.Table.from_pandas(df[schema.names], schema=schema, preserve_index=False)
    pq.write_table(table, path, use_dictionary=False)
    # flushed now, so no write-back of staged data runs under a timed job
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _write_parts(df: pd.DataFrame, schema: pa.Schema, out_dir: str, n_files: int) -> dict:
    """Split ``df`` in order into ``n_files`` parquet files. Modification
    times increase with the file index, so a file stream source reads them
    in this order. Returns the paths and each file's row count."""
    os.makedirs(out_dir)
    paths, rows = [], []
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write(df.iloc[part], schema, path)
        paths.append(path)
        rows.append(len(part))
    base = os.path.getmtime(paths[-1])
    for i, path in enumerate(paths):
        os.utime(path, (base + i, base + i))
    return {"files": paths, "file_rows": rows}


def boundaries(seed: int, path: str) -> pd.DataFrame:
    bnd = synthetic.generate_boundaries(np.random.default_rng(seed))
    _write(bnd, BOUNDARIES, path)
    return bnd


def stage_flagship(root: str, seed: int, pool: int, replicas: int, n_files: int) -> dict:
    """``pool`` generated images, each replicated ``replicas`` times under
    unique ids, in ``n_files`` equal files (one file is the 1/n_files size
    the traced run fits against)."""
    d = fresh_dir(root, "flagship", seed, {"pool": pool, "replicas": replicas, "files": n_files})
    imgs, truth = synthetic.generate_images(pool, np.random.default_rng(seed))
    bnd = boundaries(seed + 1, os.path.join(d, "boundaries.parquet"))
    rep = np.repeat(np.arange(replicas), pool)
    big = imgs.iloc[np.tile(np.arange(pool), replicas)].reset_index(drop=True)
    big["image_id"] = big["image_id"] + pd.Series(rep).map("_r{:05d}".format)
    return {"dir": d, **_write_parts(big, IMAGES, os.path.join(d, "images"), n_files),
            "boundaries": os.path.join(d, "boundaries.parquet"), "pool": pool,
            "expected_pool": synthetic.expected_tiles(truth, bnd)}


def stage_ingest(root: str, seed: int, distinct: int, dup_share: float, n_files: int) -> dict:
    """``distinct`` generated images plus exact-duplicate payloads of a
    seeded ``dup_share`` of them under later-sorting ids, placed after
    their originals, so the streaming dedup keeps every original."""
    d = fresh_dir(root, "ingest", seed, {"distinct": distinct, "dup_share": dup_share, "files": n_files})
    rng = np.random.default_rng(seed)
    imgs, truth = synthetic.generate_images(distinct, rng)
    bnd = boundaries(seed + 1, os.path.join(d, "boundaries.parquet"))
    picks = np.sort(rng.choice(distinct, size=int(distinct * dup_share), replace=False))
    dups = imgs.iloc[picks].copy()
    dups["image_id"] = dups["image_id"] + "_dup"
    # a duplicate sorts after a random later original, never before its own,
    # so the original reaches the dedup first or in the same micro-batch
    pos = np.minimum(picks + rng.integers(0, distinct // 2, size=picks.size), distinct - 1)
    keys = np.concatenate([np.arange(distinct, dtype=np.float64), pos + 0.5])
    allrows = pd.concat([imgs, dups], ignore_index=True)
    allrows = allrows.iloc[np.argsort(keys, kind="stable")].reset_index(drop=True)
    allrows["event_time_us"] = np.arange(len(allrows), dtype=np.int64) * 1000
    schema = IMAGES.append(pa.field("event_time_us", pa.int64()))
    return {"dir": d, **_write_parts(allrows, schema, os.path.join(d, "images"), n_files),
            "source_dir": os.path.join(d, "images"), "boundaries": os.path.join(d, "boundaries.parquet"),
            "expected": synthetic.expected_tiles(truth, bnd)}


def stage_linkres(root: str, seed: int, replicas: int, n_files: int) -> dict:
    """The golden elements replicated ``replicas`` times with fresh ids, in
    a seeded order, plus the wikidata dimension tables."""
    d = fresh_dir(root, "linkres", seed, {"replicas": replicas, "files": n_files})
    gold = synthetic.generate_test_elements()
    stride = 10 ** len(str(len(gold)))
    reps = pd.concat([gold.assign(element_id=gold["element_id"] + stride * r) for r in range(replicas)],
                     ignore_index=True)
    reps = reps.iloc[np.random.default_rng(seed).permutation(len(reps))].reset_index(drop=True)
    parts = _write_parts(reps, ELEMENTS, os.path.join(d, "elements"), n_files)
    dims = {}
    for name, df in synthetic.generate_wikidata_dim().items():
        if name in WIKI_DIMS:
            dims[name] = os.path.join(d, f"{name}.parquet")
            _write(df, WIKI_DIMS[name], dims[name])
    return {"dir": d, **parts, "dims": dims, "element_ids": reps["element_id"].tolist(),
            "expected": dict(zip(reps["element_id"], reps["expected_error_id"]))}
