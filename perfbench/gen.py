"""Seeded input generator for the benchmark.

Seed 0 is the shipped copy of the sf0.01 testdata, byte for byte (checked
against data/MANIFEST.sha256). Seed s > 0 is a seeded row-order
permutation of every table, written in the same layout: one parquet file
and one row group per table, snappy, format 2.6, schema metadata kept.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def manifest():
    out = {}
    with open(os.path.join(DATA, "MANIFEST.sha256")) as f:
        for line in f:
            digest, name = line.split()
            out[name] = digest
    return out


def _write_table(name, seed, dest):
    src = os.path.join(DATA, f"{name}.parquet")
    out = os.path.join(dest, f"{name}.parquet")
    if seed == 0:
        shutil.copyfile(src, out)
        return out
    table = pq.read_table(src)
    # one stream per (seed, table) so tables do not share a permutation
    rng = np.random.default_rng([seed, TABLES.index(name)])
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, out, compression="snappy", version="2.6",
                   row_group_size=max(1, table.num_rows))
    return out


def generate(seed, dest):
    """Write the seed's tables into `dest`; return {file: sha256}."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    os.makedirs(dest, exist_ok=True)
    return {f"{t}.parquet": sha256(_write_table(t, seed, dest)) for t in TABLES}


def check_determinism(seed, dest, digests, scratch):
    """Regenerate the seed into `scratch` and compare bytes with `dest`.

    Returns a dict of the checks; seed 0 is also compared with the
    recorded digests of the original testdata.
    """
    again = generate(seed, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    checks = {"same_seed_identical": again == digests}
    if seed == 0:
        checks["seed0_is_testdata"] = digests == manifest()
    checks["one_row_group"] = all(
        pq.ParquetFile(os.path.join(dest, f"{t}.parquet")).metadata.num_row_groups == 1
        for t in TABLES)
    return checks
