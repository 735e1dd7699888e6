"""Crawl-round benchmark: one workload per invocation, checked and measured.

    python3 perfbench/run.py --workload bulk_d1 --seed 1 --seconds 3 --trace 0

Run from the root of a checkout.  The run starts a Spark session on
``local[<nproc>]``, generates the workload's input from ``--seed``, runs
untimed warm-up iterations, then timed iterations back to back (a closed
loop with one client) until ``--seconds`` of iteration wall have passed.
Every iteration is checked against an oracle after the timed window.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a run that also
writes Spark's event log and runs the workload's traced extras.  Lines before it starting with ``#`` give the context of the
run.  Scratch files (stores, shuffle, event log, spans) go under
``.perfbench_work/`` in the checkout, on whatever disk holds it.

Exit codes: 0 all checks passed, 1 a check failed or an iteration raised,
2 the program under test could not be imported.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import probes  # the benchmark's own; importable without the package

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 130  # start no timed iteration that would end after this

END_TO_END = {"round_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
# Every per-layer metric, 0 where a workload does not call the layer.
PER_LAYER = {
    # engine.crawl: run_crawl's own phase timings and counts
    "crawl.schedule_s": "s", "crawl.list_fetch_parse_s": "s", "crawl.horizon_s": "s",
    "crawl.posts_project_s": "s", "crawl.text_fetch_extract_s": "s",
    "crawl.assemble_s": "s", "crawl.commit_s": "s", "crawl.self_s": "s",
    "crawl.waves": "count", "crawl.urls_fetched": "count", "crawl.posts_new": "count",
    # Spark scheduling on the driver
    "spark.jobs": "count", "spark.jobs_in_group": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count", "spark.task_busy_frac": "frac",
    # engine.fetch and the exchanges
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes", "spark.gc_s": "s",
    "spark.task_cpu_s": "s",
    # functions.extract and the Arrow UDF boundary
    "pyworker.cpu_s": "s", "pyworker.peak_rss_mb": "MB",
    # operators.seen / operators.frontier
    "seen.rows": "count", "seen.index_bytes": "bytes", "frontier.refetch_frac": "frac",
    "fetch.new_post_frac": "frac", "recrawl.round_s": "s",
    # storage.backend
    "store.commit_s": "s", "store.maintain_s": "s", "store.bytes_written": "bytes",
    "store.files_written": "count", "store.manifest_bytes": "bytes",
    "store.bytes_per_post": "bytes",
    # operators.dedup
    "dedup.exact_s": "s", "dedup.minhash_lsh_s": "s", "dedup.simhash_s": "s",
    "dedup.winnow_s": "s", "dedup.clean_pipeline_s": "s", "dedup.lsh_pairs": "count",
    "dedup.components": "count",
    # the traced run itself
    "trace.round_s": "s", "trace.spans": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    xs = sorted(xs)
    for p in range(99, 0, -1):
        k = int(len(xs) * p / 100)
        if len(xs) - k - 1 >= 10:
            return p, xs[k]
    return None


def _session(cores: int, trace: bool):
    from eastmoneygubacrawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for the JVM's Python
    workers to go with it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for _ in range(100):
        if len(probes.process_tree(os.getpid())) <= 1:
            return
        time.sleep(0.1)
    print("# warning: child processes still running after Spark stopped", file=sys.stderr)


def _layer_metrics(wl, rec, extras, tracer, log, sampler, cores) -> dict:
    """Per-layer figures of one timed iteration of a traced run."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    span = rec["span"]
    out |= probes.spark_window(log, span["start"], span["end"], cores)
    out |= wl.layer_metrics(rec, extras, tracer)
    out["pyworker.cpu_s"] = rec["worker_cpu_s"]
    out["pyworker.peak_rss_mb"] = sampler.peak_mb([(span["start"], span["end"])], workers=True)
    out["trace.round_s"] = span["end"] - span["start"]
    out["trace.spans"] = sum(1 for s in tracer.spans if s["iteration"] == rec["it"])
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return out


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        spec = importlib.util.spec_from_file_location(
            "membw_probe", os.path.join(ROOT, "BENCH", "membw_probe.py"))
        membw_probe = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(membw_probe)
        from workloads import WORKLOADS
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    t_begin = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("local", "tmp", "eventlog", "stores", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ |= {
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    cores = len(os.sched_getaffinity(0))
    # box-speed reading, taken before Spark starts so nothing competes with
    # it; smaller arrays than the script's default keep it to ~1 s and 200 MB
    membw_probe.N_ELEM = 1 << 23
    membw_gbps = membw_probe.measure(1)

    trace = bool(args.trace)
    tracer = probes.Tracer()
    with probes.MemorySampler() as sampler:
        t_session = time.time()
        spark = _session(cores, trace)
        session_s = time.time() - t_session
        sc = spark.sparkContext
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, tracer)
        t = time.time()
        fingerprint = wl.generate()
        wl.load()
        input_s = time.time() - t

        def run_one(it: str) -> dict:
            sc.setJobGroup(f"{wl.name}/{it}", f"perfbench {wl.name} iteration {it}")
            cpu0 = probes.worker_cpu_s(os.getpid()) if trace else 0.0
            tree0 = probes.tree_cpu_s(os.getpid())
            t0, ticks0 = time.time(), probes.cpu_ticks()
            try:
                rec = wl.iterate(it)
            except Exception as e:  # the loop goes on; the failure is counted
                traceback.print_exc()
                rec = {"it": it, "error": f"{type(e).__name__}: {e}"}
            rec["wall"] = time.time() - t0
            rec["ticks"] = [b - a for a, b in zip(ticks0, probes.cpu_ticks())]
            rec["cpu_s"] = probes.tree_cpu_s(os.getpid()) - tree0
            if "span" in rec:
                rec["wall"] = rec["span"]["end"] - rec["span"]["start"]
            rec["worker_cpu_s"] = probes.worker_cpu_s(os.getpid()) - cpu0 if trace else 0.0
            return rec

        warm = [run_one(f"w{i}") for i in range(wl.warmups)]
        warmup_s = sum(r["wall"] for r in warm)
        timed, timed_wall = [], 0.0
        while not timed or timed_wall < args.seconds:
            if timed and time.time() - t_begin + timed[-1]["wall"] > DEADLINE_S:
                break
            timed.append(run_one(f"t{len(timed)}"))
            timed_wall += timed[-1]["wall"]
        t_timed_end = time.time()

        def checked(rec: dict) -> list[str]:
            if "error" in rec:
                return [rec["error"]]
            sc.setJobGroup(f"{wl.name}/check", "perfbench oracle checks")
            try:
                return wl.check(rec)
            except Exception as e:
                traceback.print_exc()
                return [f"check raised {type(e).__name__}: {e}"]

        t = time.time()
        errors = {r["it"]: checked(r) for r in warm + timed}
        check_s = time.time() - t
        extras = []
        if trace and not errors[timed[-1]["it"]]:
            sc.setJobGroup(f"{wl.name}/extras", "perfbench traced extras")
            try:
                extras = wl.extras(timed[-1])
            except Exception as e:
                traceback.print_exc()
                errors[timed[-1]["it"] + "-extras"] = [f"{type(e).__name__}: {e}"]
            for r in extras:
                r["wall"] = r["span"]["end"] - r["span"]["start"]
            errors |= {r["it"]: checked(r) for r in extras}
        _stop(spark)

    ok_timed = [r for r in timed if not errors[r["it"]]]
    failed = sum(1 for e in errors.values() if e)
    for it, errs in errors.items():
        for e in errs:
            print(f"# check failed: {wl.name} {it}: {e}", file=sys.stderr)
    walls = [r["wall"] for r in ok_timed]
    items = sum(r["items"] for r in ok_timed)
    tail = tail_percentile(walls)
    info = {
        "workload": wl.name, "seed": args.seed, "input_fingerprint": fingerprint,
        "nproc": cores, "membw_gbps_1core": round(membw_gbps, 3),
        "store": f"disk, {WORK}", "trace": trace,
        "setup_parts_s": {"session": session_s, "input": input_s, "warmup": warmup_s},
        "check_s": check_s, "total_s": time.time() - t_begin,
        "iteration_walls_s": {r["it"]: r["wall"] for r in warm + timed + extras},
        "iteration_cpu_s": {r["it"]: r["cpu_s"] for r in warm + timed},
        # CPU time the hypervisor gave to other guests while the timed
        # iterations ran: a high share marks a noisy window
        "steal_pct_timed": 100 * sum(r["ticks"][0] for r in timed)
        / max(1, sum(r["ticks"][1] for r in timed)),
        "fail_frac": failed / len(errors),
        "round_s": statistics.median(walls) if walls else None,
        f"{wl.items}_per_s": items / sum(walls) if walls else None,
        "round_s_tail": f"p{tail[0]}={tail[1]:.4f}" if tail else
        f"n/a ({len(walls)} timed iterations; a tail percentile needs 11 or more)",
    }
    if ok_timed and "store_bytes" in ok_timed[0]:
        info["store_bytes_per_post"] = statistics.median(
            r["store_bytes"] / r["posts_in_store"] for r in ok_timed)
    print("# " + json.dumps(info))

    if trace:
        tracer.dump(os.path.join(WORK, "spans.json"))
        log = probes.read_event_log(os.path.join(WORK, "eventlog"))
        per_it = [
            _layer_metrics(wl, r, extras, tracer, log, sampler, cores)
            for r in ok_timed
        ]
        values = {k: statistics.median(d[k] for d in per_it) if per_it else 0.0
                  for k in PER_LAYER}
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
    else:
        values = {
            "round_cpu_s": statistics.median(r["cpu_s"] for r in ok_timed) if walls else 0.0,
            "setup_s": session_s + input_s + warmup_s,
            # from session start to the end of the timed window: the
            # checks' own memory (DuckDB, collected rows) is left out
            "peak_rss_mb": sampler.peak_mb([(t_session, t_timed_end)]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    for k, m in metrics.items():
        print(f"# {k} = {m['value']} {m['unit']}")
    result = {"correct": failed == 0, "attempted": len(errors), "failed": failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
