"""Inputs of the benchmark.

- The fixture tables the registered queries read are the repo's sf0.01
  test fixture (synthetic, seed 42; see ``TESTDATA.md``), copied
  byte for byte into ``perfbench/fixtures/sf0.01/`` so that a checkout
  without the fixture directory can run the benchmark. They are read in
  place and never written; every run of every seed reads the same tables.
- DICOM slices for the image-ETL workload are generated from the run
  seed under the run's work directory: pixels, study assignment and
  which files are truncated.
"""

from __future__ import annotations

import os

import numpy as np

#: The sf0.01 fixture tables, one ``<table>.parquet`` each.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


def write_dicoms(
    root: str, seed: int, batches: int, per_batch: int, truncated: int, side: int
) -> list[dict]:
    """Write ``batches`` directories of ``per_batch`` DICOM slices each
    (``side``×``side`` int16, a bright blob on noise), spread over a few
    study UIDs. ``truncated`` files in total are cut short so the pipeline
    must drop them. Returns one record per file: path, batch, valid."""
    from braintumor_data_pipeline_spark.sources.dicom import dcmwrite

    rng = np.random.default_rng(seed)
    n = batches * per_batch
    studies = [f"1.2.826.{seed}.{k}" for k in range(max(2, batches))]
    bad = set(rng.choice(n, truncated, replace=False).tolist())
    yy, xx = np.mgrid[0:side, 0:side]
    out = []
    for i in range(n):
        b = i // per_batch
        cy, cx = rng.uniform(side * 0.25, side * 0.75, 2)
        r = rng.uniform(side * 0.04, side * 0.12)
        blob = 900.0 * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / (2 * r * r))
        px = (rng.normal(400.0, 60.0, (side, side)) + blob).astype(np.int16)
        study = studies[int(rng.integers(0, len(studies)))]
        # one file in eight has no window tags: the min-max fallback path
        window = {} if i % 8 == 7 else {"window_center": 600.0, "window_width": 1200.0}
        data = dcmwrite(
            px,
            patient_id=f"P{int(rng.integers(0, 40))}" if i % 11 else "",
            study_uid=study,
            series_uid=f"{study}.1",
            sop_uid=f"{study}.1.{i}",
            **window,
        )
        if i in bad:
            data = data[: len(data) * 3 // 5]
        d = os.path.join(root, f"batch{b:02d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"img{i:05d}.dcm")
        with open(path, "wb") as fh:
            fh.write(data)
        out.append({"path": path, "batch": b, "valid": i not in bad})
    return out
