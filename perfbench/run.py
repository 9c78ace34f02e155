"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analyst_session --seed 1 --seconds 5 --trace 0

Run from the repository root.  Each run works in a fresh directory under
``.perfbench-work/`` (removed at exit); the engine's snapshot root, stage
root, base-table dir, Spark scratch and warehouse all live there, so a run
reads and writes nothing else.  Inputs are generated from ``--seed``.

stdout: an info line (samples, host control, failures; with ``--trace 1``
also the span summary and every span record), then
as the last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (spans + Spark event log; see spans.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ behind in the checkout

from workloads import ROSTER, STAGES, WORKLOADS  # noqa: E402  (imports no engine code)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "geospatial_store_siting_spark"
SCALE = 0.005  # customer = 750 rows: per-request overhead dominates
DOCS = {"corpus_ingest": 5000}  # the sf0.1 corpus: a steady-state probe index

END_TO_END = {"setup_s": "s", "op_ms": "ms"}
# a layer a workload does not reach reads 0 there
PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "stage.write_s": "s",
    "stage.write_calls": "count",
    "stage.append_s": "s",
    "stage.append_calls": "count",
    "stage.read_hit_ratio": "ratio",
    "stage.files": "count",
    "stage.bytes_per_input_byte": "ratio",
    **{f"pipeline.{st}.{k}": "s" for st in STAGES for k in ("build_s", "exec_s")},
    "pipeline.bookkeeping_s": "s",
    **{f"roster.{q}.{k}": "s" for q in ROSTER for k in ("s", "build_s")},
    "ingest.index_build_s": "s",
    "ingest.exact": "count",
    "ingest.near": "count",
    "ingest.novel": "count",
    "op.build_ms": "ms",
    "op.plan_ms": "ms",
    "op.exec_ms": "ms",
    "op.write_ms": "ms",
    "op.jobs": "count",
    "op.task_s": "s",
    "op.shuffle_write_kb": "KB",
    "jvm.peak_rss_mb": "MB",
}


def host_control() -> dict:
    """Fixed CPU and memory-bandwidth work, timed: a drift reference
    recorded beside every run (not a metric of the engine)."""
    import numpy as np

    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    cpu_ms = (time.perf_counter() - t) * 1000
    a = np.ones(8 * 1024 * 1024)  # 64 MB
    b = np.empty_like(a)
    t = time.perf_counter()
    for _ in range(8):
        np.copyto(b, a)
    gbps = 8 * 2 * a.nbytes / (time.perf_counter() - t) / 1e9
    return {"cpu_loop_ms": round(cpu_ms, 3), "mem_copy_gbps": round(gbps, 3)}


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> dict:
    """Busy and hypervisor-steal shares of the host's CPU time in between:
    steal shows time the VM wanted but its host gave to someone else."""
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    return {"busy": round((total - d[3] - d[4] - d[7]) / total, 4),
            "steal": round(d[7] / total, 4)}


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap_mb() -> int:
    """A quarter of physical RAM, capped at 4 GB (the session factory's
    own default asks for 48 GB)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return max(1024, min(4096, total_kb // 4096))


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class Ctx:
    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sf_dir = os.path.join(work, "data")
        self.spark = None
        self._con = None

    def duckdb(self):
        """DuckDB connection with the base tables as views (oracle side)."""
        if self._con is None:
            import duckdb

            from geospatial_store_siting_spark.sources.tables import BASE_TABLES

            self._con = duckdb.connect()
            for t in BASE_TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con


def install_stage_spans(tr) -> None:
    """Trace the stage store and loader at their module boundaries."""
    from geospatial_store_siting_spark.operators import dedup
    from geospatial_store_siting_spark.sources import iceberg, snapshots, tables

    def committed(path):
        return os.path.exists(os.path.join(path, "_manifest.json"))

    def snap_hit(sp, args, kw):
        spark, name, sql, sf_dir = args[:4]
        root = kw.get("root", snapshots.DEFAULT_ROOT)
        sp.attrs["hit"] = snapshots.read_manifest(sf_dir, name, sql, root) is not None

    def commit_hit(sp, args, kw):
        sp.attrs["hit"] = committed(args[2])

    def read_hit(sp, out):
        sp.attrs["hit"] = out is not None

    tr.wrap(tables, "load_all", "tables.load")
    tr.wrap(tables, "register_tables", "tables.load")
    tr.wrap(snapshots, "snapshot_table", "stage.write", on_call=snap_hit)
    tr.wrap(snapshots, "commit_dataframe", "stage.write", on_call=commit_hit)
    tr.wrap(snapshots, "commit_bucketed", "stage.write", on_call=commit_hit)
    tr.wrap(snapshots, "append_bucketed", "stage.append")
    tr.wrap(iceberg, "read_stage_committed", "stage.read_committed", on_result=read_hit)
    tr.wrap(iceberg, "read_stage_bucketed_committed", "stage.read_committed",
            on_result=read_hit)
    tr.wrap(dedup, "ingest_probe_index", "ingest.probe_index")


def start_spark(work: str, cores: int, trace: bool, tr):
    from geospatial_store_siting_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with tr.span("session.start"):
        return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    try:
        spark.stop()
    except Exception:  # noqa: BLE001  an interrupted gateway: the JVM is ended below
        pass
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024.0


def sweep_stale(base: str) -> None:
    """Remove the work directories of earlier runs whose process is gone
    (a killed run never reaches its own clean-up)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        try:
            os.kill(int(name.rsplit("-", 1)[-1]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, ops) -> dict:
    """``op_ms``: per op kind (endpoint, flag round trip or ingest batch),
    the median latency; then the mean over kinds, so every kind weighs as
    it does in a stratified round."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.error is None:
            by_kind.setdefault(o.name, []).append(o.seconds)
    return {
        "setup_s": setup_s,
        "op_ms": statistics.mean(median(v) for v in by_kind.values()) * 1000 if by_kind else 0.0,
    }


def per_layer(tr, wl, ctx, rss_mb: float) -> dict:
    spans = tr.spans
    selft = tr.self_times()

    def parent_name(s) -> str | None:
        return spans[s.parent].name if s.parent is not None else None

    def total(name: str, parent: str | None = "*") -> float:
        return sum(s.dur for s in spans
                   if s.name == name and (parent == "*" or parent_name(s) == parent))

    # outermost stage-store calls only: a snapshot commit nests the
    # dataframe commit it delegates to
    writes = [s for s in spans if s.name == "stage.write" and not s.attrs.get("hit")
              and parent_name(s) != "stage.write"]
    appends = [s for s in spans if s.name == "stage.append"]
    reads = [s for s in spans if s.name == "stage.read_committed"]
    ops = [o for o in wl.ops if o.error is None and o.span is not None]
    files, store_bytes = 0, 0
    for root in ("snapshots", "stages"):
        f, b = dir_stats(os.path.join(ctx.work, root))
        files, store_bytes = files + f, store_bytes + b
    _, input_bytes = dir_stats(ctx.sf_dir)
    n = max(1, len(ops))
    counts = getattr(wl, "counts", None) or {}
    out = {
        "session.start_s": total("session.start"),
        "tables.load_s": sum(s.dur for s in spans if s.name == "tables.load"
                             and parent_name(s) != "tables.load"),
        "stage.write_s": sum(s.dur for s in writes),
        "stage.write_calls": len(writes),
        "stage.append_s": sum(s.dur for s in appends),
        "stage.append_calls": len(appends),
        "stage.read_hit_ratio":
            sum(bool(s.attrs.get("hit")) for s in reads) / len(reads) if reads else 0.0,
        "stage.files": files,
        "stage.bytes_per_input_byte": store_bytes / max(1, input_bytes),
    }
    for st in STAGES:
        out[f"pipeline.{st}.build_s"] = total(f"pipeline.{st}.build", "pipeline.run")
        out[f"pipeline.{st}.exec_s"] = total(f"pipeline.{st}.exec", "pipeline.run")
    # the loop time outside load_all and the stage spans: mainly the
    # partition-histogram job per stage
    out["pipeline.bookkeeping_s"] = sum(selft[s.sid] for s in spans if s.name == "pipeline.run")
    for q in ROSTER:
        out[f"roster.{q}.s"] = total(f"roster.{q}")
        out[f"roster.{q}.build_s"] = total("build", f"roster.{q}")
    out.update({
        "ingest.index_build_s": total("ingest.index_build"),
        "ingest.exact": counts.get("exact_dup", 0),
        "ingest.near": counts.get("near_dup", 0),
        "ingest.novel": counts.get("novel", 0),
        "op.build_ms": median([o.build_s for o in ops]) * 1000,
        "op.plan_ms": median([o.plan_ms for o in ops]),
        "op.exec_ms": median([o.exec_s for o in ops]) * 1000,
        "op.write_ms": median([o.write_s for o in ops if o.write_s > 0]) * 1000,
        "op.jobs": sum(tr.subtree_stat(o.span, "jobs") for o in ops) / n,
        "op.task_s": sum(tr.subtree_stat(o.span, "task_s") for o in ops) / n,
        "op.shuffle_write_kb":
            sum(tr.subtree_stat(o.span, "shuffle_write_bytes") for o in ops) / n / 1024,
        "jvm.peak_rss_mb": rss_mb,
    })
    return out


def span_summary(tr) -> dict:
    """Per span name: calls, total and self seconds, jobs, task-seconds,
    shuffle and spill bytes, and stage-store hits (requests are keyed by
    endpoint)."""
    selft = tr.self_times()
    names = {s.sid: s.name for s in tr.spans}
    out: dict[str, dict] = {}
    for s in tr.spans:
        key = s.name
        if s.name in ("build", "exec") and s.parent is not None:
            key = f"{names[s.parent]}.{s.name}"
        row = out.setdefault(key, {"calls": 0, "hits": 0, "total_s": 0.0, "self_s": 0.0,
                                   "jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
                                   "spill_bytes": 0})
        row["calls"] += 1
        row["hits"] += int(bool(s.attrs.get("hit")))
        row["total_s"] += s.dur
        row["self_s"] += selft[s.sid]
        for k in ("jobs", "task_s", "shuffle_write_bytes", "spill_bytes"):
            row[k] += s.attrs.get(k, 0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="scale factor of the generated tables (sizing only)")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-work")
    sweep_stale(base)
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # read at import time by the engine: set before anything imports it
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_SNAPSHOT_DIR": os.path.join(work, "snapshots"),
        "SPARK_GRAFT_STAGE_DIR": os.path.join(work, "stages"),
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "data"),
        "SPARK_GRAFT_CPUS": str(host_cpus()),
    })
    spark = None
    try:
        import datagen
        from spans import Tracer

        control = host_control()
        cpu0 = cpu_times()
        tr = Tracer(bool(args.trace))
        ctx = Ctx(work, args.seed, tr)
        rows = datagen.generate(ctx.sf_dir, args.seed, args.scale, DOCS.get(args.workload))
        if args.trace:
            install_stage_spans(tr)

        t0 = time.perf_counter()
        spark = ctx.spark = start_spark(work, host_cpus(), bool(args.trace), tr)
        tr.bind(spark)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0

        t1 = time.perf_counter()
        wall = wl.timed_loop(args.seconds)
        timed = (t1, t1 + wall)
        control.update(cpu_share(cpu0, cpu_times()))
        t2 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t2
        e2e = end_to_end(setup_s, wl.ops)
        failed = len(wl.failures)  # failed ops plus failed checks

        info = {
            "workload": args.workload, "seed": args.seed, "rows": rows,
            "samples": {"setup_s": 1, "op_ms": len(wl.ops)},
            "timed_wall_s": wall, "check_s": check_s, "checks": wl.checks, "failures": wl.failures[:20],
            "op_ms": [[o.name, round(o.seconds * 1000, 1)] for o in wl.ops],
            "host_control": control, "end_to_end": e2e,
        }
        if args.trace:
            rss = jvm_peak_rss_mb(spark)
            stop_spark(spark)
            spark = None
            tr.attach_job_stats(os.path.join(work, "events"))
            metrics = per_layer(tr, wl, ctx, rss)
            units = PER_LAYER
            # share of the timed wall time the request spans cover
            info["span_coverage"] = tr.covered(*timed) / wall
            info["spans"] = span_summary(tr)
            info["span_log"] = tr.records(t0)
            info["counts"] = getattr(wl, "counts", None)
            info["labelled"] = getattr(wl, "labelled", None)
            info["stage_rows"] = getattr(wl, "stage_rows", None)
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps(info))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": wl.warmed + len(wl.ops) + wl.checks,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
