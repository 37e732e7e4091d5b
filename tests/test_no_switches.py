"""Regrowth guard: the package keeps one production kernel per
operator, so no module selects a code path from the environment.
Only ``session.py`` and the CLI read deployment settings
(``SPARK_GRAFT_*``, ``DATABASE_URL``)."""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "healthkit_to_sqlite_spark")
ENV_READERS = {"session.py", "__main__.py"}
ENV_READ = re.compile(r"\benviron\b|\bgetenv\b")


def test_no_kernel_switches_or_env_reads_in_package():
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if "HK_" in line or (rel not in ENV_READERS
                                         and ENV_READ.search(line)):
                        found.append(f"{rel}:{n}: {line.strip()}")
    assert found == [], "kernel switch or environment read:\n" + "\n".join(found)
