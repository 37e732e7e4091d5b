"""Check a converted SQLite file against the generator's expectations."""

from __future__ import annotations

import json
import sqlite3

from gen_export import checksum_lines, norm


def _lines(con: sqlite3.Connection, table: str):
    cols = [r[1] for r in con.execute(f"PRAGMA table_info(`{table}`)")]
    if table == "Workout":
        q = ("SELECT workoutActivityType, duration, workoutEvents, "
             "workoutStatistics, geometry FROM Workout")
        for wtype, dur, ev, st, geo in con.execute(q):
            pts = len(json.loads(geo).get("coordinates", [])) if geo else 0
            yield (f"Workout|{wtype}|{norm(dur)}|{len(json.loads(ev))}"
                   f"|{len(json.loads(st))}|{pts}")
    elif table == "ActivitySummary":
        q = "SELECT dateComponents, activeEnergyBurned FROM ActivitySummary"
        for day, energy in con.execute(q):
            yield f"ActivitySummary|{str(day)[:10]}|{norm(energy)}"
    else:
        md = [c for c in cols if c.startswith("metadata_")]
        sel = ", ".join(f"`{c}`" for c in ["value"] + md)
        for row in con.execute(f"SELECT {sel} FROM `{table}`"):
            yield f"{table}|value|{norm(row[0])}"
            for c, v in zip(md, row[1:]):
                if v is not None:
                    yield f"{table}|md|{c[len('metadata_'):]}|{norm(v)}"


def check(db_path: str, expected: dict) -> tuple[int, list[str]]:
    """Return (rows committed, list of problems); no problems = correct."""
    con = sqlite3.connect(db_path)
    try:
        names = [r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")]
        problems = []
        rows = 0
        lines = []
        for t in names:
            n = con.execute(f"SELECT count(*) FROM `{t}`").fetchone()[0]
            rows += n
            want = expected["tables"].get(t)
            if want != n:
                problems.append(f"{t}: {n} rows, expected {want}")
            lines.extend(_lines(con, t))
        missing = sorted(set(expected["tables"]) - set(names))
        if missing:
            problems.append(f"missing tables: {missing}")
        got = checksum_lines(lines)
        if got != expected["checksum"]:
            problems.append(f"value checksum {got} != {expected['checksum']}")
        return rows, problems
    finally:
        con.close()
