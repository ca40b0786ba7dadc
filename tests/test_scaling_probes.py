"""The ``dedup-skew`` probe of ``tools/scaling_probe.py`` runs the
registered ``minhash_lsh_pairs_capped`` on its synthetic ``documents``
fixture. Its pair count at x1 pins the corpus to the shape the
``capped_pairs_per_doc`` band and the SCALE.md tables were measured on."""

from __future__ import annotations

import tempfile

from tools.scaling_probe import dedup_skew_row


def test_dedup_skew_probe_x1(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    row = dedup_skew_row(spark, 1)
    assert row["docs"] == 5_000
    assert row["capped_pairs"] == 934
    assert row["capped_pairs_per_doc"] == 0.19
    # the fixture directory is gone once the row is measured
    assert list(tmp_path.iterdir()) == []
