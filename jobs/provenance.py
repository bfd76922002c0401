"""Provenance stamp for the audit and bench artifacts under BENCH/: what
produced a file (git sha, argv), on what (cores, memory), with which
inputs (N, seed) and when, so a file can be reproduced or compared
without a rerun."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git_sha(root: str = ROOT) -> str:
    """HEAD sha of the checkout at ``root``, suffixed ``-dirty`` when
    tracked files under geomesa_spark/ or jobs/ differ from it;
    ``unknown`` outside a git checkout."""
    try:
        sha = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, check=True
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", root, "status", "--porcelain", "--untracked-files=no", "--", "geomesa_spark", "jobs"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"
    return sha + ("-dirty" if dirty else "")


def provenance(n_per_class: int, seed: int, **params) -> dict:
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return {
        "git_sha": git_sha(),
        "argv": sys.argv,
        "n_per_class": n_per_class,
        "seed": seed,
        **params,
        "cores": cores,
        "memory_gb": round(mem / 2**30, 1),
        "python": sys.version.split()[0],
        "date_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }
