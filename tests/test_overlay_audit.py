"""Smoke run of the overlay Monte-Carlo audit (jobs/overlay_mc_audit.py):
every class × operator at a small N must give zero wrong-answer probes
and zero nulls, quickly. The full stamp (N=4000/class × 256 probes) is
the job's own run into BENCH/overlay_mc_audit.json."""

from __future__ import annotations

import time

from jobs.overlay_mc_audit import CLASSES, OPS, audit


def test_overlay_mc_audit_smoke():
    t0 = time.perf_counter()
    res = audit(20, 256)
    elapsed = time.perf_counter() - t0
    assert set(res["classes"]) == set(CLASSES) and len(CLASSES) == 7
    for cls, row in res["classes"].items():
        for op in OPS:
            cell = row[op]
            assert cell["checked"] == 20 and cell["null"] == 0, (cls, op, cell)
            assert cell["mismatch"] == 0, (cls, op, res["mismatch_examples"][:1])
    assert res["mismatch_examples"] == []
    assert elapsed < 60.0, elapsed
