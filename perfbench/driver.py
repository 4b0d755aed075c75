"""One driver process of a benchmark run: start the engine's session, run a
cold pass and then a fixed number of warm passes of one workload, and write
every collected result to disk for ``run.py`` to check after the run.

``run.py`` starts this script, passes the run plan as a JSON file and reads
the driver's peak RSS from ``/proc`` before letting it exit. The engine is
used only through its public entry points: ``session.get_spark``,
``plans.REGISTRY[name].fn(spark, data_dir)`` and ``collect()`` on the
returned DataFrame.

Traced runs put every (query, pass) in its own Spark job group and mark
each job with the phase it started in (``perfbench.phase`` = build or
collect); ``eventlog.py`` reads both back from the event log.
"""

from __future__ import annotations

import json
import pickle
import platform
import random
import sys
import time
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"


def group_id(query: str, pass_idx: int) -> str:
    return f"{query}#{pass_idx}"


def pass_order(queries: list[str], seed: int, pass_idx: int) -> list[str]:
    """The seed's permutation of the workload's queries for one pass."""
    order = list(queries)
    random.Random(f"{seed}:{pass_idx}").shuffle(order)
    return order


def run(plan: dict) -> dict:
    from mapreduce__spark import plans
    from mapreduce__spark.session import get_spark

    rows_dir = Path(plan["rows_dir"])
    t_get = time.time()
    spark = get_spark(cpus=plan["cpus"])
    session = {"start": t_get, "end": time.time()}
    sc = spark.sparkContext
    trace = plan["trace"]

    passes: list[dict] = []
    while True:
        p = len(passes)
        queries = []
        # The cold pass keeps the declared order, so every run reaches the
        # measured passes with the same JIT and cache history; the seed
        # permutes the order of each measured pass.
        order = pass_order(plan["queries"], plan["seed"], p) if p else plan["queries"]
        for q in order:
            rec = {"query": q, "pass": p, "error": None}
            if trace:
                sc.setJobGroup(group_id(q, p), group_id(q, p))
                sc.setLocalProperty(PHASE_PROPERTY, "build")
            rec["t_build"] = time.time()
            try:
                df = plans.REGISTRY[q].fn(spark, plan["data_dir"])
                rec["t_collect"] = time.time()
                if trace:
                    sc.setLocalProperty(PHASE_PROPERTY, "collect")
                rows = df.collect()
                rec["t_end"] = time.time()
            except Exception as e:  # a failing query is counted, not fatal
                rec["t_end"] = time.time()
                rec.setdefault("t_collect", rec["t_end"])
                rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
            else:
                rec["rows"] = len(rows)
                with open(rows_dir / f"{group_id(q, p)}.pkl", "wb") as f:
                    pickle.dump((df.columns, [tuple(r) for r in rows]), f)
                del rows
            if trace:
                rec["tracker_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group_id(q, p)))
            queries.append(rec)
        passes.append({"pass": p, "queries": queries})
        if p == 0:
            session["cold_end"] = time.time()
        if p == plan["warm_passes"]:
            break
    versions = {
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    app_id = sc.applicationId
    spark.stop()  # flushes the event log
    return {"session": session, "passes": passes, "versions": versions, "app_id": app_id}


def main() -> int:
    plan = json.loads(Path(sys.argv[1]).read_text())
    result = run(plan)
    Path(plan["result"]).write_text(json.dumps(result))
    # run.py reads this process's peak RSS now, then closes our stdin.
    print("PERFBENCH_DONE", flush=True)
    sys.stdin.read()
    return 0


if __name__ == "__main__":
    sys.exit(main())
