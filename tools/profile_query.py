"""Per-query job/stage profile via the Spark UI REST API (guide §1/§7).

Runs the named queries exactly as bench.py does (clearCache + noop sink,
after one warm-up), but with the UI enabled, and attributes each query's
wall time to its Spark jobs and stages: how many jobs ran, how much time
was inside stages vs scheduling/driver gaps, and the slowest stages with
their shuffle bytes. "Many tiny jobs, big driver gap" = fixed
per-action/commit overhead; "one long stage" = genuine compute. Each
record also carries the query's Janino compiles and compile ms
(``codegen_compiles``, ``codegen_ms``): classes the generated-class cache
did not already hold, so codegen churn shows without a profiler.

Usage: python tools/profile_query.py [sf_dir] q_name [q_name ...]
Emits one JSON line per query to stdout (human summary on stderr).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    if not names:
        sys.exit("usage: profile_query.py [sf_dir] q_name [q_name ...]")

    from pretalx_hub_etl_spark.queries import load_all
    from pretalx_hub_etl_spark.session import codegen_counters, get_spark

    spark = get_spark("profile", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    base = sc.uiWebUrl + "/api/v1/applications/" + sc.applicationId
    registry = load_all()

    # warm-up (bench.py protocol) on the first query named, so any
    # corpus that serves the named queries serves the warm-up too
    registry[names[0]].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    runs = 2 if "--twice" in sys.argv else 1
    for name in names:
        for _ in range(runs - 1):
            # warm run: JIT/codegen + Python worker pool, discarded
            spark.catalog.clearCache()
            registry[name].fn(spark, sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
        spark.catalog.clearCache()
        before_jobs = {j["jobId"] for j in _get(base, "/jobs")}
        sc.setJobDescription(name)
        cg0 = codegen_counters(spark)
        t0 = time.time()
        registry[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        wall = time.time() - t0
        cg1 = codegen_counters(spark)
        sc.setJobDescription(None)
        jobs = [j for j in _get(base, "/jobs") if j["jobId"] not in before_jobs]
        stages = {s["stageId"]: s for s in _get(base, "/stages?status=complete")}
        job_rows = []
        stage_ids: set[int] = set()
        for j in sorted(jobs, key=lambda x: x["jobId"]):
            sub = j.get("submissionTime", "")
            dur = None
            try:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(j["completionTime"], fmt)
                    - datetime.strptime(j["submissionTime"], fmt)
                ).total_seconds()
            except Exception:
                pass
            job_rows.append(
                {
                    "id": j["jobId"],
                    "sec": round(dur, 3) if dur is not None else None,
                    "tasks": j.get("numCompletedTasks"),
                    "stages": j.get("stageIds"),
                }
            )
            stage_ids.update(j.get("stageIds", []))
        st_rows = []
        for sid in stage_ids:
            s = stages.get(sid)
            if not s:
                continue
            st_rows.append(
                {
                    "id": sid,
                    "name": s["name"].split("\n")[0][:80],
                    "tasks": s["numCompleteTasks"],
                    "run_sec": round(s["executorRunTime"] / 1000.0, 3),
                    "cpu_sec": round(s.get("executorCpuTime", 0) / 1e9, 3),
                    "gc_sec": round(s.get("jvmGcTime", 0) / 1000.0, 3),
                    "fetch_sec": round(
                        s.get("shuffleFetchWaitTime", 0) / 1000.0, 3
                    ),
                    "sh_read_mb": round(s["shuffleReadBytes"] / 1e6, 2),
                    "sh_write_mb": round(s["shuffleWriteBytes"] / 1e6, 2),
                    "in_mb": round(s["inputBytes"] / 1e6, 2),
                }
            )
        st_rows.sort(key=lambda r: -r["run_sec"])
        jobs_sec = sum(j["sec"] or 0 for j in job_rows)
        rec = {
            "query": name,
            "wall_sec": round(wall, 3),
            "n_jobs": len(job_rows),
            "jobs_sec_sum": round(jobs_sec, 3),
            "driver_gap_sec": round(wall - jobs_sec, 3),
            "n_stages": len(st_rows),
            "stage_run_sec_sum": round(sum(r["run_sec"] for r in st_rows), 3),
            "codegen_compiles": cg1[0] - cg0[0],
            "codegen_ms": round(cg1[1] - cg0[1], 1),
            "top_stages": st_rows[:8],
            "slow_jobs": sorted(
                job_rows, key=lambda r: -(r["sec"] or 0)
            )[:8],
        }
        print(json.dumps(rec))
        print(
            f"{name}: wall={wall:.2f}s jobs={len(job_rows)} "
            f"(sum {jobs_sec:.2f}s, gap {wall - jobs_sec:.2f}s) "
            f"stages={len(st_rows)} "
            f"compiles={cg1[0] - cg0[0]} ({cg1[1] - cg0[1]:.0f} ms)",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
