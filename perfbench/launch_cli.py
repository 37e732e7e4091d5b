"""Traced CLI process: wrap the layer boundaries, then run the CLI.

    python3 perfbench/launch_cli.py <trace.json> <CLI arguments...>

Runs ``healthkit_to_sqlite_spark.__main__.main(argv)`` in this fresh
process exactly as ``python -m healthkit_to_sqlite_spark`` would, and
writes the span summary and counts to ``<trace.json>``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    out_path, argv = sys.argv[1], sys.argv[2:]
    from healthkit_to_sqlite_spark.__main__ import main as cli_main

    import layers
    from tracing import Tracer

    tracer = Tracer()
    layers.install(tracer)
    with tracer.span("cli.main"):
        rc = cli_main(argv)
    with open(out_path, "w") as fh:
        json.dump({"spans": tracer.summary(), "counts": tracer.totals()}, fh)
    return rc


if __name__ == "__main__":
    sys.exit(main())
