"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload nested_scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` under the current directory, and every file the run
writes (Spark's temp and local dirs included) stays there; the run's
directory is removed at the end. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it are the human-readable report (with
host telemetry, sample counts and the tail percentile used).

``--workload all`` runs each workload in its own process and prints
every workload's report; with ``--trace 1`` it runs each workload twice,
untraced then traced, and prints the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import stats  # noqa: E402

#: a run is pinned to this many cores: local[SPARK_CPUS] task threads,
#: and a core for the Python client, the JIT and the garbage collector
PINNED_CPUS = 3
SPARK_CPUS = 2
#: the JVM's parallel and concurrent GC threads, capped to match
JVM_OPTS = "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
DRIVER_MEM = "2g"  # the inputs are small; the engine's default heap is 24g
#: workload op kind -> the statement kind its per-layer counts report under
SNAPSHOT_KIND = {
    "write_append": "write", "merge_upsert": "merge",
    "update_cow": "update", "delete_mor": "delete", "read_pruned": "read",
    "read_changes": "changes",
}
SQL_KIND = {
    "sql_insert_values": "insert", "sql_update": "update",
    "sql_delete": "delete", "read_version": "select",
}

#: the result line's end-to-end metrics (BENCHMARK.json, in its order):
#: those every workload reports and whose run-to-run spread stays inside
#: the bound; the others are printed in the report only
END_TO_END = {"setup_s": "s", "read_p50_s": "s", "ops_per_s": "1/s"}
REPORT_ONLY = {
    "read_tail_s": "s", "peak_rss_mb": "MB", "write_p50_s": "s", "write_tail_s": "s",
    "ops_failed_ratio": "ratio", "storage_amplification": "ratio",
}


def per_layer_names() -> "list[tuple[str, str]]":
    names = [
        ("session.get_spark_s", "s"), ("session.warmup_s", "s"),
        ("queries.driver_only_s", "s"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
        ("spark.scheduler_delay_s", "s"),
        ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
        ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ]
    names += [(f"sources.snapshot.jobs_per_stmt.{k}", "count")
              for k in ("write", "merge", "update", "delete", "read", "changes")]
    names += [("sources.snapshot.files_per_commit", "count"),
              ("sources.snapshot.files_scanned_ratio", "ratio"),
              ("sources.snapshot.live_files", "count")]
    names += [(f"sources.sqlface.jobs_per_stmt.{k}", "count")
              for k in ("insert", "update", "delete", "select")]
    names += [(f"sources.storage.{c}_calls", "count")
              for c in ("read", "put", "stat", "list", "delete")]
    names += [("sources.storage.read_bytes", "bytes"), ("sources.storage.put_bytes", "bytes")]
    names += [("functions.simindex.jobs_per_search", "count")]
    return names


def pin_cores(n: int) -> "list[int]":
    """Pin this process to the first ``n`` cores it may use, before it
    starts any thread or child: the JVM, its threads and Spark's Python
    workers all inherit the mask. On a shared host, work spread over
    mostly idle vCPUs pays for waking each one through the hypervisor,
    and that cost follows the host's load, not the program; on a few
    busy cores the hand-offs stay inside the guest."""
    cores = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, cores)
    return cores


class _NoTrace:
    """The untraced run's stand-in for :class:`spans.Tracer`."""

    def span(self, name, layer):
        return nullcontext()

    def operation(self, op_id, kind):
        return nullcontext()


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _data_files(path: str) -> "set[str]":
    """Every parquet file under a snapshot table (data, deletion
    vectors, change files), as table-relative paths."""
    out = set()
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(d, f), path))
    return out


def _env(work: str, cpus: int, trace: bool) -> None:
    """Point every temp, local and warehouse dir of Python, the JVM and
    Spark into the run's work dir, and fix the session's cores and heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.defaultJavaOptions={JVM_OPTS}"]
    if trace:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false",
                 f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}"]
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell",
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timed_op(op, op_id: str, tr, counter) -> dict:
    """Run one operation under its timer, then check its output; with a
    storage counter (the traced run) also record its storage calls, the
    data files it added and, for a pruned read, the scanned-file ratio."""
    rec = {"id": op_id, "kind": op.kind, "category": op.category,
           "family": op.family, "error": None}
    before = None
    if counter is not None:
        counter.take()
        if op.category == "write" and op.path:
            before = _data_files(op.path)
    with tr.operation(op_id, op.kind):
        rec["wall_start"] = time.time()
        t = time.perf_counter()
        try:
            result = op.run()
        except Exception as e:  # noqa: BLE001 — a failed op, counted
            result, rec["error"] = None, f"{type(e).__name__}: {e}"[:400]
        rec["latency_s"] = time.perf_counter() - t
        rec["wall_end"] = time.time()
    if rec["error"] is None:
        rec["error"] = op.check(result)
    if counter is not None:
        rec["storage"] = counter.take()
        if before is not None:
            rec["files_added"] = len(_data_files(op.path) - before)
        if op.where is not None:
            from dask_awkward_spark.sources.snapshot import snapshot_scan_report

            sr = snapshot_scan_report(op.path, op.where, tz="UTC")
            rec["scanned_ratio"] = sr["scanned"] / max(1, sr["total"])
        counter.take()
    return rec


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import resource

    import gen
    from workloads import WORKLOADS

    phases = {"start": time.perf_counter()}
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{name}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pinned = pin_cores(PINNED_CPUS)
    cpus = min(SPARK_CPUS, len(pinned))
    _env(work, cpus, trace)
    data_dir = os.path.join(work, "data")
    cls = WORKLOADS[name]
    gen.write_tables(data_dir, seed, cls.scale)
    telemetry_start = host.telemetry(os.path.join(work, "tmp"), f"local[{cpus}]")

    tracer = counter = None
    if trace:
        import spans as tracing

        import dask_awkward_spark.queries  # noqa: F401 — load every module to rebind

        tracer = tracing.Tracer()
        tracer.instrument()
    tr = tracer or _NoTrace()
    from dask_awkward_spark.session import get_spark

    wl = cls(None, seed, work, data_dir, tr)
    wl.prepare()
    phases["prepared"] = time.perf_counter()

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    if trace:
        from dask_awkward_spark.sources import storage
        from storage_count import CountingStorage

        counter = CountingStorage(storage.active())
        storage.set_storage_backend(counter)
    wl.spark = spark
    t1 = time.perf_counter()
    with tr.span("session.warmup", "session"):
        wl.setup()
    warmup_s = time.perf_counter() - t1
    setup_s = session_s + warmup_s

    records: "list[dict]" = []
    t_start = time.perf_counter()
    for i in range(max(1, round(seconds / wl.round_s))):
        for op in wl.round():
            records.append(_timed_op(op, f"op{len(records)}", tr, counter) | {"round": i})
    timed_s = time.perf_counter() - t_start

    phases["timed"] = time.perf_counter()
    finals = wl.finish()
    phases["checked"] = time.perf_counter()
    stored, plain, live_files = _storage(spark, wl.table_paths(), os.path.join(work, "plain"))
    java_host = host.telemetry(os.path.join(work, "tmp"), f"local[{cpus}]", spark)
    peak_rss_mb = _jvm_peak_rss_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    _stop_spark(spark)
    phases["stopped"] = time.perf_counter()

    reads = [r["latency_s"] for r in records if r["category"] == "read"]
    writes = [r["latency_s"] for r in records if r["category"] == "write"]
    failed_ops = [r for r in records if r["error"]]
    failed_finals = [(n, e) for n, e in finals if e]
    attempted = len(records) + len(finals)
    failed = len(failed_ops) + len(failed_finals)
    rs, ws = stats.summarize(reads), stats.summarize(writes)
    rounds = stats.by_round(records)
    e2e = {
        "setup_s": setup_s,
        "read_p50_s": stats.median(rounds["read_p50_s"]),
        "ops_per_s": stats.median(rounds["ops_per_s"]),
    }
    extra = {
        "read_tail_s": rs["tail"], "peak_rss_mb": peak_rss_mb,
        "write_p50_s": ws["p50"], "write_tail_s": ws["tail"],
        "ops_failed_ratio": failed / attempted,
        "storage_amplification": stored / plain if plain else None,
    }
    report = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
        "timed_s": timed_s, "cores": pinned,
        "setup": {"session_s": session_s, "warmup_s": warmup_s},
        "phases_s": {"inputs": phases["prepared"] - phases["start"],
                     "final_checks": phases["checked"] - phases["timed"],
                     "teardown": phases["stopped"] - phases["checked"]},
        "end_to_end": e2e, "more": extra, "rounds": rounds,
        "samples": {"read": rs["samples"], "write": ws["samples"], "ops": len(records),
                    "rounds": len(rounds["ops_per_s"])},
        "tail_percentile": {"read": rs["tail_pct"], "write": ws["tail_pct"]},
        "errors": [(r["id"], r["kind"], r["error"]) for r in failed_ops] + failed_finals,
        "host_start": telemetry_start,
        "host_end": java_host,
        "by_kind": _by_kind(records),
        "latencies": [(r["kind"], r["latency_s"]) for r in records],
    }
    if trace:
        import eventlog

        logs = [os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))]
        log = eventlog.read(logs[0]) if logs else {"jobs": {}, "stages": {}, "tasks": []}
        spark_by_op = eventlog.attribute(log, [(r["id"], r["wall_start"], r["wall_end"]) for r in records])
        tracer.dump(os.path.join(root, ".perfbench_work", f"spans-{name}-s{seed}.json"))
        report["layers"], report["layer_table"] = _layers(
            records, spark_by_op, tracer, session_s, warmup_s, live_files)
    shutil.rmtree(work, ignore_errors=True)
    report["correct"] = failed == 0
    report["attempted"], report["failed"] = attempted, failed
    return report


def _storage(spark, paths, plain_dir) -> "tuple[int, int, int]":
    """Bytes on disk under the tables, bytes of their live rows written
    once by a plain parquet write (zstd), and their live file count."""
    import pyarrow.parquet as pq

    from dask_awkward_spark.sources.snapshot import snapshot_read, snapshot_scan_report

    os.makedirs(plain_dir, exist_ok=True)
    stored = plain = files = 0
    for i, p in enumerate(paths):
        stored += _dir_bytes(p)
        out = os.path.join(plain_dir, f"{i}.parquet")
        pq.write_table(snapshot_read(spark, p).toArrow(), out, compression="zstd")
        plain += os.path.getsize(out)
        files += snapshot_scan_report(p, [])["total"]
    return stored, plain, files


def _by_kind(records) -> dict:
    out: dict = {}
    for r in records:
        out.setdefault(r["kind"], []).append(r["latency_s"])
    return {k: {"n": len(v), "p50_s": stats.median(v)} for k, v in sorted(out.items())}


def _layers(records, spark_by_op, tracer, session_s, warmup_s, live_files):
    """Per-layer metrics (the JSON set) and the wider printed table."""
    import spans as tracing

    ops = {r["id"] for r in records}
    m: "dict[str, float]" = {"session.get_spark_s": session_s, "session.warmup_s": warmup_s}
    driver_only = []
    for r in records:
        s = spark_by_op[r["id"]]
        covered = tracing.union_length(
            (max(a, r["wall_start"]), min(b, r["wall_end"])) for a, b in s["job_intervals"])
        driver_only.append(max(0.0, (r["wall_end"] - r["wall_start"]) - covered))
    m["queries.driver_only_s"] = stats.median(driver_only)
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "input_bytes", "output_bytes"):
        m[f"spark.{k}"] = _mean(spark_by_op[r["id"]][k] for r in records)
    for k in ("executor_run_s", "executor_cpu_s", "scheduler_delay_s"):
        m[f"spark.{k}"] = _mean(spark_by_op[r["id"]][k] for r in records)
    for kind_map, prefix, kinds in (
        (SNAPSHOT_KIND, "sources.snapshot.jobs_per_stmt",
         ("write", "merge", "update", "delete", "read", "changes")),
        (SQL_KIND, "sources.sqlface.jobs_per_stmt", ("insert", "update", "delete", "select")),
    ):
        for k in kinds:
            m[f"{prefix}.{k}"] = _mean(spark_by_op[r["id"]]["jobs"] for r in records
                                       if kind_map.get(r["kind"]) == k)
    m["sources.snapshot.files_per_commit"] = _mean(
        r["files_added"] for r in records
        if "files_added" in r and (r["kind"] in SNAPSHOT_KIND or r["kind"] in SQL_KIND))
    m["sources.snapshot.files_scanned_ratio"] = _mean(
        r["scanned_ratio"] for r in records if "scanned_ratio" in r)
    m["sources.snapshot.live_files"] = live_files
    for k in ("read_calls", "put_calls", "stat_calls", "list_calls", "delete_calls",
              "read_bytes", "put_bytes"):
        m[f"sources.storage.{k}"] = _mean(r["storage"][k] for r in records)
    m["functions.simindex.jobs_per_search"] = _mean(
        spark_by_op[r["id"]]["jobs"] for r in records if r["kind"] in ("search", "batch_search"))

    # the wider table: per-layer self time and per-call medians
    spans = tracer.spans
    self_t = tracing.layer_self_times(spans, ops)
    total = sum(r["latency_s"] for r in records)
    table: "dict[str, object]" = {
        f"self.{layer}_s": v for layer, v in sorted(self_t.items())}
    table.update({f"self_share.{layer}": v / total for layer, v in sorted(self_t.items())})

    def span_p50(name, kinds=None):
        ds = [s["end"] - s["start"] for s in spans if s["name"] == name and s["op"] in ops
              and (kinds is None or kinds_of.get(s["op"]) in kinds)]
        return (stats.median(ds), len(ds)) if ds else (None, 0)

    kinds_of = {r["id"]: r["kind"] for r in records}
    for key, name, kinds in (
        ("sources.tables.load_table_s", "sources.tables.load_table", None),
        ("queries.build_s", "queries.build", None),
        ("queries.execute_s", "queries.execute", None),
        ("sources.catalog.lookup_s", "sources.catalog.snapshot_catalog_lookup", None),
        ("sources.catalog.list_s", "sources.catalog.snapshot_catalog_list", None),
        ("functions.simindex.ingest_s", "functions.simindex.ivf_index_add", None),
        ("functions.simindex.search_s", "functions.simindex.ivf_search", {"search"}),
        ("functions.simindex.batch_search_s", "functions.simindex.ivf_search", {"batch_search"}),
    ):
        table[key], table[key + ".calls"] = span_p50(name, kinds)
    train = [s["end"] - s["start"] for s in spans if s["name"] == "functions.pq.pq_train"]
    table["functions.pq.train_s"] = stats.median(train) if train else None
    fam: "dict[str, list]" = {}
    for r in records:
        if r["family"]:
            fam.setdefault(r["family"], []).append(r["latency_s"])
    for f, v in sorted(fam.items()):
        table[f"{f}.query_s"] = stats.median(v)
    added: "dict[str, list]" = {}
    for r in records:
        if "files_added" in r:
            added.setdefault(r["kind"], []).append(r["files_added"])
    for k, v in sorted(added.items()):
        table[f"sources.snapshot.files_per_commit.{k}"] = _mean(v)
    for kind_map, prefix in ((SNAPSHOT_KIND, "sources.snapshot"), (SQL_KIND, "sources.sqlface.stmt_s")):
        per: "dict[str, list]" = {}
        for r in records:
            if r["kind"] in kind_map:
                per.setdefault(kind_map[r["kind"]], []).append(r["latency_s"])
        for k, v in sorted(per.items()):
            table[f"{prefix}.{k}_s" if prefix == "sources.snapshot" else f"{prefix}.{k}"] = stats.median(v)
    return m, table


def _print_report(rep: dict) -> None:
    print(f"== {rep['workload']} seed={rep['seed']} trace={int(rep['trace'])} "
          f"ops={rep['samples']['ops']} rounds={rep['samples']['rounds']} "
          f"timed={rep['timed_s']:.2f}s "
          f"attempted={rep['attempted']} failed={rep['failed']}")
    tp = rep["tail_percentile"]
    rows = [(k, v, END_TO_END[k]) for k, v in rep["end_to_end"].items()]
    rows += [(k, v, REPORT_ONLY[k]) for k, v in rep["more"].items()]
    for k, v, unit in rows:
        n = ""
        if k.startswith("read_"):
            n = f"n={rep['samples']['read']}"
        elif k.startswith("write_"):
            n = f"n={rep['samples']['write']}"
        elif k in ("ops_per_s", "ops_failed_ratio"):
            n = f"n={rep['samples']['ops']}"
        pct = ""
        if k.endswith("_tail_s"):
            p = tp[k.split("_")[0]]
            pct = f"(p{p:.1f})" if p is not None else "(max: too few samples)"
        val = "n/a" if v is None else f"{v:.6g}"
        print(f"  {k:24s} {val:>12s} {unit:6s} {n:8s} {pct}")
    for op_id, kind, err in rep["errors"][:10]:
        print(f"  FAILED {op_id} {kind}: {err}")
    if "layers" in rep:
        print("  -- per-layer (traced) --")
        for k, v in rep["layers"].items():
            print(f"  {k:44s} {v:.6g}")
        for k, v in rep["layer_table"].items():
            print(f"  {k:44s} {'n/a' if v is None else format(v, '.6g')}")
    print("  host:", json.dumps({"start": rep["host_start"], "end": rep["host_end"]}))


def _result_line(rep: dict) -> str:
    if rep["trace"]:
        metrics = {k: {"value": rep["layers"][k], "unit": u} for k, u in per_layer_names()}
    else:
        metrics = {k: {"value": rep["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    return json.dumps({"correct": rep["correct"], "attempted": rep["attempted"],
                       "failed": rep["failed"], "metrics": metrics})


def _run_all(args) -> int:
    """Each workload in its own process; with --trace 1, untraced then
    traced, plus the tracing overhead on read_p50_s."""
    from workloads import WORKLOADS

    summary = {}
    for name in WORKLOADS:
        reps = {}
        for t in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(t), "--report-json"]
            out = subprocess.run(cmd, capture_output=True, text=True)
            lines = out.stdout.splitlines()
            for ln in lines[:-2]:
                print(ln)
            if out.returncode != 0 or len(lines) < 2:
                sys.stderr.write(out.stderr[-4000:])
                print(f"{name}: run failed (exit {out.returncode})")
                return 1
            reps[t] = json.loads(lines[-2])
        summary[name] = {"untraced": reps[0]["end_to_end"], "failed": reps[0]["failed"]}
        if args.trace:
            a, b = reps[0]["end_to_end"]["read_p50_s"], reps[1]["end_to_end"]["read_p50_s"]
            summary[name]["tracing_overhead"] = b / a - 1.0
            print(f"  tracing overhead on {name}: read_p50_s {a:.4f}s untraced -> "
                  f"{b:.4f}s traced ({100 * (b / a - 1):+.1f}%)")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report-json", action="store_true",
                    help="also print the full report as JSON before the result line")
    args = ap.parse_args(argv)
    import importlib.util

    # find, don't import: the engine's modules must load after _env()
    # points the temp dirs into the work dir
    if importlib.util.find_spec("dask_awkward_spark") is None:
        print(f"no dask_awkward_spark package under {os.getcwd()}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    rep = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    _print_report(rep)
    if args.report_json:
        print(json.dumps(rep, default=str))
    print(_result_line(rep))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    raise SystemExit(main())
