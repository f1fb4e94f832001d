"""The package reads no A/B toggle from the environment: one engine
path per query, with variants compared by revision (perfbench/run.py
on the parent vs the change) instead of by a flag flipped inside one
session. Only deployment settings remain."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "aurora_cdc_demo_spark"

DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER"}


def test_package_reads_only_deployment_settings():
    found = {
        (p.relative_to(PKG).as_posix(), name)
        for p in PKG.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", p.read_text())
    }
    extra = sorted(f for f in found if f[1] not in DEPLOYMENT_SETTINGS)
    assert not extra, f"env toggles outside the deployment settings: {extra}"
