"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <ingest_sqlite|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Inputs are generated from the seed
into ``perfbench/.work/`` (removed at exit); every Spark, JVM and
Python scratch file is kept there too.  Workloads (closed loop, one
client, local[nproc]):

- ``ingest_sqlite``: each op is a cold ``python -m
  healthkit_to_sqlite_spark export.zip sqlite://<new db> --quiet`` in a
  fresh process; the SQLite file is checked against the generator.
- ``query_mix``: a warm session runs a fixed query list at sf0.1 (see
  ``ops.py``), each query forced through the noop sink.  The untimed
  warm-up pass checks every query against the DuckDB oracle with
  ``tests/parity.compare_query``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
separate traced run and prints the per-layer metrics (spans around the
public calls into each module, counts, and Spark stage totals from an
event log enabled on the benchmark's own session).  The last stdout
line is the result; a ``#`` line before it holds the details (per-op
latencies, failing ops by name, box state).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import check_db
import eventlog
import gen_export
import ops
import procmon
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "healthkit_to_sqlite_spark")
OP_TIMEOUT_S = 150.0

QUERY_MODULES = ("relational", "restructure", "schema_infer", "timeseries",
                 "pipeline", "dedup", "similarity", "text")
SPARK_FIELDS = eventlog.FIELDS


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if len(xs) < 2:
        return max(xs, default=0.0)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _end_to_end(setup, walls, cpus, lats, rows) -> dict:
    return {
        "setup_s": (_median(setup), "s"),
        "wall_s": (_median(walls), "s"),
        "cpu_s": (_median(cpus), "s"),
        "op_p50_s": (_median(lats), "s"),
        "op_p90_s": (_p90(lats), "s"),
        "rows_per_s": (rows / sum(walls), "1/s"),
    }


# ---------------------------------------------------------------------------
# ingest_sqlite


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _cli_op(i, zip_path, run_dir, traced: bool) -> dict:
    """One cold CLI conversion; returns its timings and outputs."""
    db = os.path.join(run_dir, f"out-{i}.db")
    tmp = os.path.join(run_dir, f"op-{i}")
    os.makedirs(tmp)
    argv = [zip_path, "sqlite://" + db, "--quiet"]
    trace_json = os.path.join(run_dir, f"trace-{i}.json")
    log_dir = os.path.join(run_dir, f"eventlog-{i}") if traced else None
    if log_dir:
        os.makedirs(log_dir)
        cmd = [sys.executable, os.path.join(HERE, "launch_cli.py"), trace_json] + argv
    else:
        cmd = [sys.executable, "-m", "healthkit_to_sqlite_spark"] + argv
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               PYSPARK_SUBMIT_ARGS=eventlog.submit_args(log_dir, tmp))
    with open(os.path.join(run_dir, f"cli-{i}.log"), "wb") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        sampler = procmon.TreeSampler(proc.pid, interval=0.1)
        setup = None
        try:
            while proc.poll() is None:
                now = time.perf_counter()
                # the CLI makes its staging directory right after the
                # session is up: spawn → staging dir = session start share
                if setup is None and any(n.startswith("hk_staging_")
                                         for n in os.listdir(tmp)):
                    setup = now - t0
                if now - t0 > OP_TIMEOUT_S:
                    break
                time.sleep(0.01)
            wall = time.perf_counter() - t0
            cpu = sampler.cpu_s()
            rss = sampler.take_peak_rss_mb()
        finally:
            sampler.close()
            _kill_group(proc.pid)
            proc.wait()
            procmon.wait_gone(sampler.pids(), timeout=20)
    out = {"wall": wall, "cpu": cpu, "rss": rss, "setup": setup,
           "rc": proc.returncode, "db": db, "trace_json": trace_json,
           "log_dir": log_dir}
    return out


def _callsite_module(job: dict) -> str:
    site = (job.get("Properties") or {}).get("callSite.short")
    if not site:
        # no Python call site: a DataFrameReader.load or the staging
        # parquet write, called through py4j; in the CLI only
        # sources.healthkit calls those
        stages = [s.get("Stage Name", "") for s in job.get("Stage Infos", ())]
        py4j = any(n.startswith(("load at NativeMethodAccessorImpl",
                                 "parquet at NativeMethodAccessorImpl"))
                   for n in stages)
        return "healthkit" if py4j else "other"
    path = site.rsplit(" at ", 1)[-1].split(":")[0]
    name = os.path.splitext(os.path.basename(path))[0]
    # the traced toLocalIterator (layers.py) only runs inside write_sqlite
    name = "database" if name == "layers" else name
    return name if name in ("healthkit", "database", "schema_infer") else "other"


def run_ingest(args, run_dir, info) -> dict:
    zip_path = os.path.join(run_dir, "export.zip")
    exp = gen_export.build_export(zip_path, args.seed, ops.INGEST_RECORDS)
    info["export"] = {"records": exp["records"], "xml_bytes": exp["xml_bytes"],
                      "tables": len(exp["tables"])}
    done, failed = [], []
    start = time.perf_counter()
    while not done or (not args.trace and time.perf_counter() - start < args.seconds) \
            or (args.trace and len(done) < 2):
        traced = args.trace and not done
        op = _cli_op(len(done), zip_path, run_dir, traced)
        rows, problems = (check_db.check(op["db"], exp) if op["rc"] == 0
                          else (0, [f"exit code {op['rc']}"]))
        if op["setup"] is None:
            problems.append("staging directory never appeared")
        op.update(rows=rows, problems=problems,
                  db_bytes=os.path.getsize(op["db"]) if os.path.exists(op["db"]) else 0)
        if problems:
            failed.append(f"convert#{len(done)}: {'; '.join(problems)[:300]}")
        done.append(op)
    info["ops"] = [{k: op[k] for k in ("wall", "cpu", "rss", "setup", "rows", "rc")}
                   for op in done]
    info["op_samples"] = len(done) - 1 if args.trace else len(done)
    info["peak_rss_mb"] = max(op["rss"] for op in done)
    timed = done[1:] if args.trace else done
    result = {"attempted": len(done), "failed": len(failed), "failed_ops": failed}
    if not args.trace:
        walls = [op["wall"] for op in timed]
        result["metrics"] = _end_to_end(
            [op["setup"] or 0.0 for op in timed], walls,
            [op["cpu"] for op in timed], walls, sum(op["rows"] for op in timed))
        return result

    traced = done[0]
    layer = dict.fromkeys(PER_LAYER, 0.0)
    with open(traced["trace_json"]) as fh:
        tr = json.load(fh)
    _fill_spans(layer, tr["spans"], tr["counts"])
    layer["database.db_bytes_per_xml_byte"] = traced["db_bytes"] / exp["xml_bytes"]
    log = eventlog.find_log(traced["log_dir"])
    folded = eventlog.fold(log, _callsite_module) if log else {}
    _fill_spark(layer, eventlog.total(folded))
    for mod in ("healthkit", "database", "schema_infer"):
        layer[f"{mod}.task_cpu_s"] = folded.get(mod, {}).get("task_cpu_s", 0.0)
    layer["proc.peak_rss_mb"] = done[1]["rss"]
    layer["trace.wall_s"] = traced["wall"]
    layer["trace.overhead_s"] = traced["wall"] - done[1]["wall"]
    result["metrics"] = layer
    return result


# ---------------------------------------------------------------------------
# query workloads


def _storage_used_mb(spark) -> float:
    """Block-manager memory in use (cached blocks and broadcasts)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.values().iterator()
    used = 0
    while it.hasNext():
        t = it.next()
        used += t._1() - t._2()
    return used / 1e6


class _TimedOracle:
    """DuckDB connection proxy that adds up the time spent in the oracle
    (``compare_query`` executes, then reads through ``df``/``fetchall``)."""

    def __init__(self, con):
        self._con, self.busy_s = con, 0.0

    def _timed(self, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.busy_s += time.perf_counter() - t

    def execute(self, sql):
        self._timed(self._con.execute, sql)
        return self

    def df(self):
        return self._timed(self._con.df)

    def fetchall(self):
        return self._timed(self._con.fetchall)

    def __getattr__(self, name):
        return getattr(self._con, name)


def _stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers are gone."""
    from pyspark import SparkContext

    kids = [p for p in procmon.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procmon.wait_gone(kids, timeout=20)


def run_queries(args, run_dir, info, op_list) -> dict:
    import gen_tables

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import parity
    from healthkit_to_sqlite_spark import registry, session

    data = gen_tables.write(os.path.join(run_dir, "data"), args.seed, ops.SF)
    builders, oracle = registry.queries(), registry.oracle_sql()
    names = [name for name, _, _ in op_list]
    module = {n: builders[n].__module__.rsplit(".", 1)[-1]
              for n in names + list(ops.PROBES)}
    tracer = Tracer() if args.trace else None
    if tracer:
        import layers
        layers.install(tracer)

    def one_pass(tag: str, traced: bool = False):
        """Build and noop-write every op once; per-op latency and errors."""
        lats, errors = [], {}
        p0, c0 = time.perf_counter(), sampler.cpu_s()
        for name in names:
            sc.setJobGroup(f"{tag}|{module[name]}|{name}", name)
            if tracer:
                tracer.op = name if traced else f"{tag}/{name}"
            t = time.perf_counter()
            try:
                if traced:
                    with tracer.span(f"{module[name]}.build"):
                        df = builders[name](spark, data)
                    with tracer.span(f"{module[name]}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    builders[name](spark, data).write.format("noop") \
                        .mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failing op is reported
                errors[name] = f"{type(e).__name__}: {e}"[:300]
            lats.append(time.perf_counter() - t)
        return (time.perf_counter() - p0, sampler.cpu_s() - c0, lats, errors,
                _storage_used_mb(spark))

    sampler = procmon.TreeSampler(interval=0.1)
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cpus=info["box_start"]["nproc"])
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    # the warm-up pass is the output check: every op runs once, cold
    # (with the per-process index builds), through compare_query; the
    # DuckDB oracle's share of it is not set-up and is taken out
    con = _TimedOracle(parity.duckdb_connection(data))
    checks, rows = {}, {}
    for name in names:
        sc.setJobGroup(f"check|{module[name]}|{name}", name)
        if tracer:
            tracer.op = "check/" + name
        try:
            res = parity.compare_query(spark, con, name, builders[name],
                                       oracle[name], data)
            checks[name], rows[name] = (res.ok, res.detail), res.spark_rows
        except Exception as e:  # noqa: BLE001 — a failing op is reported
            checks[name], rows[name] = (False, f"{type(e).__name__}: {e}"[:300]), 0
    setup_s = time.perf_counter() - t0 - con.busy_s
    info["oracle_s"] = con.busy_s
    con.close()

    sampler.take_peak_rss_mb()

    passes = []
    start = time.perf_counter()
    if tracer:
        # untraced, traced, untraced: the overhead is the traced pass
        # minus the mean of the two untraced ones around it
        tracer.unwrap()
        passes.append(one_pass("untraced"))
        layers.install(tracer)
        passes.append(one_pass("traced", traced=True))
        tracer.unwrap()
        passes.append(one_pass("untraced"))
    else:
        while not passes or time.perf_counter() - start < args.seconds:
            passes.append(one_pass(f"pass{len(passes)}"))
    peak = sampler.take_peak_rss_mb()

    probes, failed = {}, []
    for name in ops.PROBES:
        if tracer:
            tracer.op = "probe/" + name
        sc.setJobGroup(f"probe|{module[name]}|{name}", name)
        t = time.perf_counter()
        try:
            builders[name](spark, data).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing probe is reported
            failed.append(f"probe {name}: {type(e).__name__}: {e}"[:300])
        probes[name] = time.perf_counter() - t
    _stop_spark(spark)
    sampler.close()

    for p in passes:
        for name in names:
            ok, detail = checks[name]
            if name in p[3]:
                failed.append(f"{name}: {p[3][name]}")
            elif not ok:
                failed.append(f"{name}: check: {detail}")
    info["ops"] = {name: {"rows": rows[name], "check": checks[name][0],
                          "lat_s": [p[2][i] for p in passes]}
                   for i, name in enumerate(names)}
    info["op_samples"] = len(names) * len(passes)
    info["probes"] = probes
    info["passes"] = [{"wall_s": p[0], "cpu_s": p[1], "storage_used_mb": p[4]}
                      for p in passes]
    info["peak_rss_mb"] = peak
    result = {"attempted": len(names) * len(passes) + len(ops.PROBES),
              "failed": len(failed),
              "failed_ops": sorted(set(failed))}
    if not tracer:
        # an op's latency is its median over the passes, so the
        # percentiles rank ops, not passes, and do not shift with the
        # number of passes that fit in the run
        lats = [_median([p[2][i] for p in passes]) for i in range(len(names))]
        result["metrics"] = _end_to_end(
            [setup_s], [p[0] for p in passes], [p[1] for p in passes],
            lats, sum(rows.values()) * len(passes))
        return result

    layer = dict.fromkeys(PER_LAYER, 0.0)
    # layer spans and counts of the traced pass; the session start and
    # index publication happen in set-up, so those come from every span
    in_pass = names.__contains__
    _fill_spans(layer, tracer.summary(in_pass), tracer.totals(in_pass))
    _fill_spans(layer, {k: v for k, v in tracer.summary().items()
                        if k.startswith(("session.", "manifest."))}, {})
    log = eventlog.find_log(os.path.join(run_dir, "eventlog"))
    folded = eventlog.fold(log, lambda job: (job.get("Properties") or {})
                           .get("spark.jobGroup.id")) if log else {}
    traced_groups = [k for k in folded if k.startswith("traced|")]
    _fill_spark(layer, eventlog.total(folded, traced_groups))
    for mod in QUERY_MODULES:
        tot = eventlog.total(folded, [k for k in traced_groups
                                      if k.split("|")[1] == mod])
        for f in ("task_cpu_s", "shuffle_write_records", "py_worker_run_s"):
            layer[f"{mod}.{f}"] = tot[f]
    layer["blockmgr.storage_used_mb"] = passes[-1][4]
    layer["proc.peak_rss_mb"] = peak
    layer["probe.q_flagship_s"] = probes["q_flagship"]
    layer["probe.q_window_rank_s"] = probes["q_window_rank"]
    layer["trace.wall_s"] = passes[1][0]
    layer["trace.overhead_s"] = passes[1][0] - (passes[0][0] + passes[2][0]) / 2
    result["metrics"] = layer
    return result


# ---------------------------------------------------------------------------
# per-layer metric names


def _layer_names() -> dict[str, str]:
    names = {"box.nproc": "count", "box.loadavg_1m": "load",
             "box.other_spark_jvms": "count", "box.steal_pct": "%",
             "proc.peak_rss_mb": "MB",
             "probe.q_flagship_s": "s", "probe.q_window_rank_s": "s",
             "trace.wall_s": "s", "trace.overhead_s": "s",
             "session.get_spark_s": "s"}
    for n in ("stage_zip", "read_records", "record_tables_onepass",
              "read_workouts", "read_gpx_routes", "read_activity_summaries",
              "convert"):
        names[f"healthkit.{n}_s"] = "s"
    names.update({"healthkit.convert_self_s": "s",
                  "healthkit.record_chunks": "count",
                  "healthkit.metadata_keys": "count",
                  "healthkit.record_types": "count",
                  "healthkit.task_cpu_s": "s",
                  "schema_infer.apply_inferred_types_s": "s",
                  "schema_infer.apply_inferred_types_calls": "count",
                  "database.write_sqlite_s": "s",
                  "database.fetch_wait_s": "s", "database.insert_s": "s",
                  "database.rows": "count", "database.tables": "count",
                  "database.db_bytes_per_xml_byte": "ratio",
                  "database.task_cpu_s": "s",
                  "catalog.load_table_s": "s",
                  "catalog.load_table_calls": "count",
                  "manifest.publish_pass_s": "s", "manifest.read_s": "s",
                  "blockmgr.storage_used_mb": "MB"})
    for mod in QUERY_MODULES:
        names.update({f"{mod}.build_s": "s", f"{mod}.exec_s": "s",
                      f"{mod}.task_cpu_s": "s",
                      f"{mod}.shuffle_write_records": "count",
                      f"{mod}.py_worker_run_s": "s"})
    for f in SPARK_FIELDS:
        names[f"spark.{f}"] = ("s" if f.endswith("_s") else
                               "bytes" if f.endswith("_bytes") else "count")
    return names


PER_LAYER = _layer_names()

def _fill_spans(layer: dict, spans: dict, counts: dict) -> None:
    """Copy the span times and counts that are per-layer metrics."""
    for key, val in {**spans, **counts}.items():
        if key in layer:
            layer[key] = val


def _fill_spark(layer: dict, tot: dict) -> None:
    for f in SPARK_FIELDS:
        layer[f"spark.{f}"] = tot[f]


# ---------------------------------------------------------------------------


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest_sqlite", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "__main__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tests", "parity.py")):
        print("perfbench: run from a checkout of the repository "
              "(healthkit_to_sqlite_spark/ and tests/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    procmon.become_subreaper()
    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # every scratch file of this process, its JVMs and its workers
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_LAUNCHER_OPTS=(
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    log_dir = None
    if args.trace and args.workload != "ingest_sqlite":
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = eventlog.submit_args(log_dir, tmp)
    info = {"workload": args.workload, "seed": args.seed,
            "box_start": procmon.box_state()}
    try:
        if args.workload == "ingest_sqlite":
            result = run_ingest(args, run_dir, info)
        else:
            result = run_queries(args, run_dir, info, ops.QUERY_OPS)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    info["box_end"] = procmon.box_state()
    info["steal_pct"] = procmon.steal_pct(info["box_start"], info["box_end"])
    info["contended"] = bool(info["box_start"]["other_spark_jvms"]
                             or info["box_end"]["other_spark_jvms"])
    if info["contended"]:
        print("perfbench: WARNING another Spark JVM was alive during this "
              "run; its times are suspect", file=sys.stderr)
    info["failed_ops"] = result["failed_ops"]
    metrics = result["metrics"]
    if args.trace:
        box = info["box_start"]
        metrics.update({"box.nproc": box["nproc"],
                        "box.loadavg_1m": box["loadavg_1m"],
                        "box.steal_pct": info["steal_pct"],
                        "box.other_spark_jvms": max(
                            box["other_spark_jvms"],
                            info["box_end"]["other_spark_jvms"])})
        metrics = {k: (v, PER_LAYER[k]) for k, v in metrics.items()}
    print("# " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
