"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Computes the DuckDB expected answers on first use (cached under
``perfbench/_work``), starts one driver process (``driver.py``) on
``local[<nproc>]``, runs one cold pass, two warm-up passes and then about
``--seconds`` seconds of measured passes of the workload's queries over the
tables in ``perfbench/data``, checks every result against its oracle once
the driver has exited, and prints a summary followed by one JSON line.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with the
Spark event log on and reports the per-layer metrics. A JSON record with
per-query figures, the drift diagnostic, host stamp and spans is written to
``perfbench/_work/records``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import queue
import shlex
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / "_work"
DATA = BENCH / "data"
sys.path[:0] = [str(BENCH), str(ROOT)]

import eventlog  # noqa: E402
from driver import group_id  # noqa: E402

SF = 0.01
SMOKE_SF = 0.001
DEADLINE_S = 170  # the whole run, set-up included, ends within this

WORKLOADS = {
    # JVM-only scan / join / aggregate / window plans: lazy builds, few
    # jobs, no Python workers. A control for driver-round-trip, triangle and
    # Python-boundary work; run by hand, not listed in BENCHMARK.json.
    "relational": (
        "search_count",
        "pricing_summary",
        "join_broadcast_star",
        "shipping_priority",
        "local_supplier_volume",
        "merge_upsert",
        "sessionization",
        "events_tumbling_window",
    ),
    # Driver- and scheduling-bound LLM-data pipelines: tens of jobs per
    # query, eager actions inside the plan-building call, idle executors.
    "curation": (
        "training_data_pipeline_full",
        "perplexity_buckets",
    ),
    # The compute-bound triangle intersect, the driver-local k-core hybrid
    # and the Python-worker boundary (embedding dedup, kNN graph).
    "graph_vector": (
        "graph_triangles",
        "k_core_peel",
        "semantic_dedup",
        "knn_graph_mutual",
    ),
}

# Warm pass time of each workload on a 4-core host. A run measures
# round(--seconds / NOMINAL_PASS_S) passes, never fewer than
# MIN_WARM_PASSES: a fixed count, because the JIT is still warming during
# the first passes and a median over a varying count would move with it.
# WARMUP_PASSES run between the cold pass and the measured ones, are
# checked and are otherwise not reported: the first warm passes are the
# slowest and least steady (on curation, pass time falls by a quarter over
# the first eight warm passes as the JIT compiles the planner's code).
NOMINAL_PASS_S = {"relational": 2.6, "curation": 5.3, "graph_vector": 4.7}
MIN_WARM_PASSES = 3
WARMUP_PASSES = 2

# (name, unit, per-pass value from the pass totals) of the traced run.
LAYER_METRICS = (
    ("session.start_s", "s", None),
    ("sources.input_mb", "MB", "input_mb"),
    ("sources.input_rows", "count", "input_rows"),
    ("plans.build_s", "s", "build_s"),
    ("plans.build_jobs", "count", "build_jobs"),
    ("plans.driver_only_s", "s", "driver_only_s"),
    ("plans.collect_s", "s", "collect_s"),
    ("plans.jobs", "count", "jobs"),
    ("plans.stages", "count", "stages"),
    ("plans.tasks", "count", "tasks"),
    ("plans.result_rows", "count", "result_rows"),
    ("operators.task_s", "s", "task_s"),
    ("operators.cpu_s", "s", "cpu_s"),
    ("operators.gc_s", "s", "gc_s"),
    ("operators.task_wait_s", "s", "task_wait_s"),
    ("operators.busy_ratio", "ratio", "busy_ratio"),
    ("operators.shuffle_write_mb", "MB", "shuffle_write_mb"),
    ("operators.shuffle_read_mb", "MB", "shuffle_read_mb"),
    ("operators.spill_mb", "MB", "spill_mb"),
    ("functions.py_start_s", "s", "py_start_s"),
    ("functions.py_init_s", "s", "py_init_s"),
    ("functions.py_run_s", "s", "py_run_s"),
    ("functions.py_sent_mb", "MB", "py_sent_mb"),
    ("functions.py_returned_mb", "MB", "py_returned_mb"),
    ("trace.wall_s", "s", "wall_s"),
)
PASS_FIELDS = (
    "wall_s",
    "build_s",
    "collect_s",
    "driver_only_s",
    "result_rows",
    "jobs",
    "build_jobs",
    *eventlog.FIELDS,
)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def host_stamp(cpus: int) -> dict:
    """Facts about the host at the start of the run, recorded, never corrected for."""
    jvms = 0
    for comm in Path("/proc").glob("[0-9]*/comm"):
        try:
            jvms += comm.read_text().strip() == "java"
        except OSError:  # the process ended while we looked
            pass
    return {
        "nproc": cpus,
        "loadavg": os.getloadavg(),
        "other_jvms": jvms,
        "python": platform.python_version(),
    }


def _group_alive(pgid: int) -> bool:
    """Whether a live (non-zombie) process is left in the process group."""
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for the process group to end; kill what is left after ``grace_s``."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + grace_s
        while time.monotonic() < end:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def run_driver(plan: dict, env: dict, log_path: Path, deadline: float) -> tuple[dict, float, float]:
    """Run ``driver.py`` on ``plan``; returns its result, its start time and peak RSS (MB)."""
    plan_path = WORK / "plan.json"
    plan_path.write_text(json.dumps(plan))
    lines: queue.Queue = queue.Queue()
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, str(BENCH / "driver.py"), str(plan_path)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=log,
            env=env,
            cwd=plan["cwd"],
            text=True,
            start_new_session=True,
        )

        def read_lines():
            for line in proc.stdout:
                lines.put(line)
            lines.put(None)  # EOF: the driver and everything it started are gone

        reader = threading.Thread(target=read_lines, daemon=True)
        reader.start()
        rss_mb = None
        try:
            while rss_mb is None:
                try:
                    line = lines.get(timeout=max(deadline - time.monotonic(), 0.01))
                except queue.Empty:
                    raise TimeoutError("driver did not finish before the run deadline") from None
                if line is None:
                    raise RuntimeError("driver ended before reporting its result")
                if line.strip() == "PERFBENCH_DONE":
                    status = Path(f"/proc/{proc.pid}/status").read_text()
                    hwm_kib = int(status.split("VmHWM:")[1].split()[0])
                    rss_mb = hwm_kib * 1024 / 1e6
            proc.stdin.close()
            proc.wait(timeout=30)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            # The JVM and Python workers leave when the driver does.
            _stop_group(proc.pid, 15)
            reader.join(timeout=5)
    if proc.returncode != 0:
        raise RuntimeError(f"driver exited with {proc.returncode}")
    return json.loads(Path(plan["result"]).read_text()), t0, rss_mb


def warm_passes(workload: str, seconds: float) -> int:
    return max(MIN_WARM_PASSES, round(seconds / NOMINAL_PASS_S[workload]))


def _drift(xs: list[float]):
    """Median of the last third of passes over the median of the first third."""
    if len(xs) < 3:
        return None
    k = len(xs) // 3
    return statistics.median(xs[-k:]) / statistics.median(xs[:k])


def top_percentile(xs: list[float]):
    """The highest of p50..p99 with at least ten samples beyond it, or None."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    return None


def pass_totals(passes: list[dict], groups: dict, jobs: dict, cpus: int) -> list[dict]:
    """Per pass: timings from the driver and (traced) event-log totals, summed over queries."""
    zero = dict.fromkeys(("jobs", "build_jobs", *eventlog.FIELDS), 0)
    out = []
    for p in passes:
        tot = dict.fromkeys(PASS_FIELDS, 0.0)
        for r in p["queries"]:
            tot["wall_s"] += r["t_end"] - r["t_build"]
            tot["build_s"] += r["t_collect"] - r["t_build"]
            tot["collect_s"] += r["t_end"] - r["t_collect"]
            tot["result_rows"] += r.get("rows", 0)
            if groups is not None:
                g = groups.get(group_id(r["query"], r["pass"]), zero)
                for k in zero:
                    tot[k] += g[k]
                wall = r["t_end"] - r["t_build"]
                tot["driver_only_s"] += wall - eventlog.covered_s(jobs, r["t_build"], r["t_end"])
        tot["busy_ratio"] = tot["task_s"] / (tot["wall_s"] * cpus)
        out.append(tot)
    return out


def spans(result: dict, jobs: dict) -> list[dict]:
    """session.start, plans.build / plans.collect per (query, pass), and one
    span per Spark job parented to the build or collect span it started in."""
    s = result["session"]
    out = [{"id": "session.start", "parent": None, "name": "session.start",
            "start": s["start"], "end": s["end"]}]
    for p in result["passes"]:
        for r in p["queries"]:
            trace = group_id(r["query"], r["pass"])
            for phase, a, b in (("build", "t_build", "t_collect"), ("collect", "t_collect", "t_end")):
                out.append({"id": f"{trace}/{phase}", "parent": None, "trace": trace,
                            "name": f"plans.{phase}", "start": r[a], "end": r[b]})
    for jid, j in sorted(jobs.items()):
        parent = f"{j['group']}/{j['phase']}" if j["group"] else None
        out.append({"id": f"job{jid}", "parent": parent, "trace": j["group"], "name": "spark.job",
                    "start": j["start"], "end": j["end"],
                    "attrs": {k: j[k] for k in ("stages", "tasks", "task_s")}})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"self-check mode: sf{SMOKE_SF} tables, one cold pass only")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    if not (ROOT / "mapreduce__spark" / "plans" / "registry.py").is_file():
        fail(f"engine sources (mapreduce__spark/) not found under {ROOT}")
    import oracle
    from mapreduce__spark.plans import REGISTRY

    cpus = len(os.sched_getaffinity(0))
    host = host_stamp(cpus)
    queries = list(WORKLOADS[args.workload])
    sf = SMOKE_SF if args.smoke else SF
    warmup = 0 if args.smoke else WARMUP_PASSES

    # Set-up outside the measured run: the expected answers.
    data_dir = DATA / f"sf{sf}"
    sqls = {q: REGISTRY[q].oracle for q in queries}
    expected = oracle.expected_answers(sqls, data_dir, oracle.manifest(data_dir), WORK / "oracle")

    run_dir = WORK / "run"
    ev_dir, rows_dir = run_dir / "eventlog", run_dir / "rows"
    for d in (ev_dir, rows_dir, run_dir / "cwd", run_dir / "tmp", run_dir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    for old in [*ev_dir.iterdir(), *rows_dir.iterdir()]:
        old.unlink()
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={run_dir / 'tmp'}",
    ]
    if args.trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={ev_dir.as_uri()}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    submit = [f"--conf {shlex.quote(c)}" for c in confs]
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(ROOT), str(BENCH), os.environ.get("PYTHONPATH", "")]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        TMPDIR=str(run_dir / "tmp"),
        TZ="UTC",
        PYTHONHASHSEED="0",
    )
    plan = {
        "queries": queries,
        "seed": args.seed,
        "warm_passes": 0 if args.smoke else warmup + warm_passes(args.workload, args.seconds),
        "trace": bool(args.trace),
        "cpus": cpus,
        "data_dir": str(data_dir),
        "rows_dir": str(rows_dir),
        "result": str(run_dir / "result.json"),
        "cwd": str(run_dir / "cwd"),
    }
    try:
        result, t0, rss_mb = run_driver(plan, env, run_dir / "driver.log", deadline)
    except (RuntimeError, TimeoutError) as e:
        log = (run_dir / "driver.log").read_text(errors="replace")
        sys.stderr.write(log[-4000:])
        fail(f"{args.workload}: {e}")

    passes = result["passes"]
    measured = passes[1 + warmup:] or passes
    recs = [r for p in passes for r in p["queries"]]
    answers = {q: oracle.load(p) for q, p in expected.items()}
    for r in recs:
        r["mismatch"] = None
        if not r["error"]:
            rows_path = rows_dir / f"{group_id(r['query'], r['pass'])}.pkl"
            r["mismatch"] = oracle.compare(*oracle.load(rows_path), answers[r["query"]])
            rows_path.unlink()
    raised = [r for r in recs if r["error"]]
    differed = [r for r in recs if r["mismatch"]]
    attempted, failed = len(recs), len(raised) + len(differed)

    jobs = groups = None
    if args.trace:
        jobs = eventlog.read(ev_dir / result["app_id"])
        groups = eventlog.by_group(jobs)
    totals = pass_totals(measured, groups, jobs, cpus)
    walls = [t["wall_s"] for t in totals]
    per_query = {
        q: [r["t_end"] - r["t_build"] for p in measured for r in p["queries"] if r["query"] == q]
        for q in queries
    }
    record = {
        "workload": args.workload,
        "queries": queries,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "host": {**host, **result["versions"]},
        "passes": {"cold": 1, "warmup": warmup, "measured": len(measured)},
        "setup_s": result["session"]["cold_end"] - t0,
        "pass_walls_s": walls,
        "drift": {
            "workload": _drift(walls),
            "queries": {q: _drift(w) for q, w in per_query.items()},
        },
        "query_median_s": {q: statistics.median(w) for q, w in per_query.items()},
        "failures": [
            {"query": r["query"], "pass": r["pass"], "error": r["error"], "mismatch": r["mismatch"]}
            for r in raised + differed
        ],
    }
    if args.trace:
        metrics = {}
        for name, unit, field in LAYER_METRICS:
            if field is None:
                value = result["session"]["end"] - result["session"]["start"]
            else:
                value = statistics.median([t[field] for t in totals])
            metrics[name] = {"value": value, "unit": unit}
        tracker = {group_id(r["query"], r["pass"]): r["tracker_jobs"] for r in recs}
        record["job_check"] = {
            "eventlog_jobs": sum(groups.get(g, {"jobs": 0})["jobs"] for g in tracker),
            "tracker_jobs": sum(tracker.values()),
            "ungrouped_jobs": sum(1 for j in jobs.values() if j["group"] not in tracker),
            "mismatched_groups": sorted(
                g for g, n in tracker.items() if groups.get(g, {"jobs": 0})["jobs"] != n
            ),
        }
        record["per_query"] = {
            q: {
                k: statistics.median(groups.get(group_id(q, p["pass"]), {}).get(k, 0) for p in measured)
                for k in ("jobs", "build_jobs", *eventlog.FIELDS)
            }
            for q in queries
        }
        # The latest untraced run of the same plan, if any, gives the tracing overhead.
        untraced = [
            json.loads(f.read_text())
            for f in sorted((WORK / "records").glob(f"{args.workload}-sf{sf}-trace0-seed*.json"),
                            key=lambda f: f.stat().st_mtime)
        ]
        untraced = [r for r in untraced if (r["queries"], r["passes"]) == (queries, record["passes"])]
        if untraced:
            base = untraced[-1]["metrics"]["wall_s"]["value"]
            record["trace_overhead"] = {"traced_wall_s": statistics.median(walls), "untraced_wall_s": base,
                                        "ratio": statistics.median(walls) / base}
        record["spans"] = spans(result, jobs)
    else:
        medians = [statistics.median(w) for w in per_query.values()]
        metrics = {
            "setup_s": {"value": record["setup_s"], "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "query_geomean_s": {
                "value": math.exp(statistics.fmean(math.log(m) for m in medians)),
                "unit": "s",
            },
            "driver_rss_peak_mb": {"value": rss_mb, "unit": "MB"},
            "ok_share": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    record["metrics"] = metrics
    rec_dir = WORK / "records"
    rec_dir.mkdir(exist_ok=True)
    rec_path = rec_dir / f"{args.workload}-sf{sf}-trace{args.trace}-seed{args.seed}.json"
    rec_path.write_text(json.dumps(record, indent=1))

    print(f"workload {args.workload} (sf{sf}, local[{cpus}], seed {args.seed}, trace {args.trace}): "
          f"1 cold + {record['passes']['warmup']} warm-up + {len(measured)} measured passes "
          f"of {len(queries)} queries; "
          f"process start to end of cold pass {record['setup_s']:.2f} s")
    for name, m in metrics.items():
        print(f"  {name:26s} {m['value']:12.4f} {m['unit']}")
    top = top_percentile(walls)
    print(f"  pass wall samples {len(walls)}; highest percentile with >=10 samples beyond it: "
          + (f"p{top[0]} = {top[1]:.4f} s" if top else "none (needs >= 11 samples)"))
    print(f"  failed_share {failed}/{attempted} (raised {len(raised)}, differed {len(differed)})")
    drift = record["drift"]["workload"]
    print(f"  drift (median last third / first third of passes): "
          + (f"{drift:.3f}" if drift is not None else "n/a (needs >= 3 passes)"))
    if "trace_overhead" in record:
        print(f"  tracing overhead: traced/untraced wall {record['trace_overhead']['ratio']:.3f}")
    print(f"  record: {rec_path.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
