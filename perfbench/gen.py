"""Seeded inputs for the forest workloads.

Rows are uniform features in [0, 1) rounded to 4 places, with a binary
label planted by threshold rules and then flipped on 10% of rows, so a
forest can reach about 0.9 held-out accuracy and no more. The same seed
gives byte-identical files: train.csv and test.csv (headerless,
features then label, the RandomForestApp CSV format), score.parquet
(id, features array<double>, label), the small warm.csv and warm.parquet
the harness warms the JVM on, and meta.json with the row counts.
"""

import json
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("rf_fit", "ops_mix")
FEATURES = 16
TRAIN_ROWS = 10_000
TEST_ROWS = 5_000
SCORE_ROWS = 40_000
WARM_ROWS = 1_000
NOISE = 0.10


def rows(rng, n):
    """n rows of (features, label) drawn from rng."""
    x = np.round(rng.random((n, FEATURES)), 4)
    rule = (((x[:, 0] > 0.6) & (x[:, 3] < 0.4))
            | (x[:, 7] > 0.85)
            | ((x[:, 2] > 0.5) & (x[:, 5] > 0.5) & (x[:, 11] < 0.3)))
    flip = rng.random(n) < NOISE
    return x, (rule ^ flip).astype(np.int32)


def write_csv(path, x, y):
    np.savetxt(path, np.column_stack([x, y]), delimiter=",",
               fmt=["%.4f"] * FEATURES + ["%d"])


def write_parquet(path, x, y):
    n = len(y)
    feats = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * FEATURES + 1, FEATURES, dtype=np.int32)),
        pa.array(x.reshape(-1), pa.float64()))
    table = pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                      "features": feats, "label": pa.array(y)})
    # several row groups, so Spark can split the file across cores
    pq.write_table(table, path, row_group_size=max(n // 16, 1),
                   compression="snappy")


def generate(out, seed):
    """Write the three inputs for seed into directory out."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True)
    write_csv(out / "train.csv", *rows(rng, TRAIN_ROWS))
    write_csv(out / "test.csv", *rows(rng, TEST_ROWS))
    write_parquet(out / "score.parquet", *rows(rng, SCORE_ROWS))
    write_csv(out / "warm.csv", *rows(rng, WARM_ROWS))
    write_parquet(out / "warm.parquet", *rows(rng, 4 * WARM_ROWS))
    (out / "meta.json").write_text(json.dumps({
        "seed": seed, "features": FEATURES, "train_rows": TRAIN_ROWS,
        "test_rows": TEST_ROWS, "score_rows": SCORE_ROWS,
        "warm_rows": WARM_ROWS}) + "\n")


def ensure(data, seed):
    """Generate the inputs for seed into data unless they are there;
    returns the seconds spent generating."""
    if (data / "meta.json").exists():
        meta = json.loads((data / "meta.json").read_text())
        if (meta["train_rows"], meta["test_rows"], meta["score_rows"],
                meta.get("warm_rows")) == (
                TRAIN_ROWS, TEST_ROWS, SCORE_ROWS, WARM_ROWS):
            return 0.0
    t0 = time.perf_counter()
    tmp = data.with_name(data.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    generate(tmp, seed)
    tmp.rename(data)
    return time.perf_counter() - t0
