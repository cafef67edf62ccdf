#!/usr/bin/env python3
"""Layered, oracle-checked benchmark of the spark_ml_helper_spark engine.

One Python process, one client, a closed loop: the queries of a workload
run one after another on ``local[<cpus>]``, each built through the
registry and fully materialised through the ``noop`` sink.

    python3 perfbench/run.py --workload single_pass --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one after another

Each run generates (once per checkout) its input tables under
``.perfbench/data``, computes and caches every query's DuckDB answer
there, and starts the session. It then runs one untimed pass that warms
every query up through the ``noop`` sink and checks its result against
the cached answer, and timed passes until ``--seconds`` have elapsed and
at least three have run.
``--seed`` fixes the query order inside each pass.

The last line of stdout is one JSON object. With ``--trace 0`` it holds
the end-to-end metrics; with ``--trace 1`` it holds the per-layer
metrics, from traced passes alternated with untraced ones (their
difference is the tracing overhead) plus the fixpoint instruments. The
full record of a run, spans included, is written to ``.perfbench/runs``.
See perfbench/README.md for the metrics and why each workload exists.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ProcessPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "spark_ml_helper_spark"

#: every workload reads the same generated sf0.01 tables
DATA_DIR = os.path.join(WORK, "data", "sf0.01")
#: the heap is sized up front (-Xms = -Xmx), so the JVM's peak RSS does not
#: hinge on when the collector chose to grow the heap
DRIVER_MEMORY = "2g"
#: driver JVM options. The JIT stops at C1: with C2, graph_mst's passes
#: kept getting faster for a dozen passes (4.3 s to 2.8 s) and scattered
#: with each late C2 compile, so a run's median hinged on how many passes
#: fitted in it; under C1 the drift is smaller (4.4 s to 3.5 s over ten
#: passes)
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1"

WORKLOADS = {
    # single-pass plans: an aggregate, two joins, a text pipeline and the
    # block-matrix pair plan with the threshold kernel (the pair space a
    # bound on max cosine could prune); scans, shuffles and execution do
    # nearly all the work, so a loop-driver change should not move it
    "single_pass": [
        "agg_group", "join_multi", "join_asof", "text_tfidf", "dedup_embedding",
    ],
    # a driver-side iterative loop (Boruvka's minimum spanning forest):
    # build and per-round planning dominate
    "fixpoint_loops": ["graph_mst"],
}


def configure_env(cpus: int) -> dict:
    """Fit the session to this machine through the variables
    ``session.get_spark`` reads, and keep every file Spark or Python
    writes under ``.perfbench``. Must run before the engine is imported."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options \"{DRIVER_JAVA_OPTIONS} -Djava.io.tmpdir={tmp}\" "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def source_rev() -> str:
    """git revision when the tree is a git checkout, plus a hash of the
    engine's sources (the benchmark also runs from plain exports)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    rev = f"src:{h.hexdigest()[:16]}"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, check=False)
        if out.returncode == 0:
            rev = f"git:{out.stdout.strip()} {rev}"
    return rev


def oracle_answers(names, data_dir: str, fingerprint: str) -> dict:
    """name -> digest of the DuckDB oracle's answer, cached on disk by the
    oracle SQL text plus the input fingerprint (the slow oracles run once
    per checkout, not once per run)."""
    from perfbench.measure import digest_frame
    from spark_ml_helper_spark.check import duckdb_connect
    from spark_ml_helper_spark.registry import REGISTRY

    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            raise SystemExit(f"{name} has no oracle; every benchmarked query must be checkable")
        key = hashlib.sha256(f"{sql}\0{fingerprint}".encode()).hexdigest()
        path = os.path.join(cache, f"{key}.json")
        if not os.path.exists(path):
            con = con or duckdb_connect(data_dir)
            answer = digest_frame(con.execute(sql).fetchdf())
            with open(path + ".tmp", "w") as f:
                json.dump(answer, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            out[name] = json.load(f)
    if con is not None:
        con.close()
    return out


def prepare() -> tuple[str, dict]:
    """Generate the inputs and every workload's oracle answers (both cached
    in the checkout): (input fingerprint, answers)."""
    from perfbench import datagen

    fingerprint = datagen.materialize(DATA_DIR)
    every_query = [q for qs in WORKLOADS.values() for q in qs]
    return fingerprint, oracle_answers(every_query, DATA_DIR, fingerprint)


def _raised(e: Exception) -> str:
    """One line naming an exception a query raised."""
    lines = str(e).strip().splitlines()
    return f"raised {type(e).__name__}: {lines[0][:200] if lines else ''}"


def layer_metrics(traced_passes: list[dict], result_rows: dict) -> dict[str, float]:
    """Per-layer metrics: each counter summed over the workload's queries
    in one traced pass, then the median over traced passes."""
    from perfbench.measure import median, pair_yield
    from perfbench.observe import COUNTERS

    def total(p, key):
        return sum(c[key] for c in p.values())

    def med(fn):
        return median([fn(p) for p in traced_passes])

    out = {key: med(lambda p, k=key: total(p, k)) for key in COUNTERS}
    out["operators.build_driver_s"] = med(
        lambda p: total(p, "operators.build_s") - total(p, "operators.build_sql_s"))
    out["functions.pair_yield"] = med(lambda p: pair_yield(
        result_rows, {q: c["functions.pairs_scored"] for q, c in p.items()}))
    return out


def run_workload(args, units: dict[str, str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    names = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    env = configure_env(cpus)
    sys.path.insert(0, ROOT)

    from perfbench.measure import (
        answer_issues, digest_frame, geomean, median, self_times, tail_percentile,
    )
    from perfbench.observe import Observer, fixpoint_instruments, peak_rss_mb, stop_session
    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    setup_parts = {"import_s": time.perf_counter() - T0}

    # the benchmark's own input and oracle work is neither set-up of the
    # engine nor part of its memory peak: a child forked before the JVM
    # starts does it
    t_prep = time.perf_counter()
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        fingerprint, answers = pool.submit(prepare).result()
    prep_s = time.perf_counter() - t_prep

    from spark_ml_helper_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    setup_parts["session_s"] = time.perf_counter() - t_session
    try:
        obs = Observer(spark, DATA_DIR)
        rng = random.Random(args.seed)
        tally = {"attempted": 0, "failed": 0}
        problems: list[str] = []

        # correctness pass, outside every timed pass. It is also the warm-up:
        # each query is built once, materialised through the noop sink (the
        # write path compiles code of its own, which a first timed pass
        # would otherwise carry), then collected and checked
        t_check = time.perf_counter()
        result_rows: dict[str, int] = {}
        mismatches = 0
        order = list(names)
        rng.shuffle(order)
        for name in order:
            tally["attempted"] += 1
            try:
                df = REGISTRY[name].fn(spark, DATA_DIR)
                df.write.format("noop").mode("overwrite").save()
                got = digest_frame(df.toPandas())
                issues = answer_issues(got, answers[name])
                result_rows[name] = got["rows"]
            except Exception as e:  # a failing query is a counted failure, not a crash
                issues = [_raised(e)]
            if issues:
                tally["failed"] += 1
                mismatches += 1
                problems.append(f"{name}: {'; '.join(issues)}")
        t_first = time.perf_counter()
        setup_parts["check_pass_s"] = t_first - t_check
        setup_s = t_first - T0 - prep_s

        def run_pass(label: str, traced: bool) -> dict:
            """One pass in seeded order; failures are counted, and a pass
            with any failure is kept out of the timings."""
            order = list(names)
            rng.shuffle(order)
            rec = {"traced": traced, "s": {}, "c": {}, "complete": True}
            for name in order:
                obs.collect_garbage()
                tally["attempted"] += 1
                trace_id = f"{label}-{name}"
                try:
                    if traced:
                        secs, counters = obs.run_traced(REGISTRY[name].fn, trace_id)
                        rec["c"][name] = counters
                        bad_tasks = counters["exec.failed_tasks"]
                    else:
                        secs, bad_tasks = obs.run(REGISTRY[name].fn, trace_id)
                except Exception as e:  # counted, and the pass is not timed
                    secs, bad_tasks = None, 0
                    problems.append(f"{name} ({label}): {_raised(e)}")
                if secs is None or bad_tasks:
                    tally["failed"] += 1
                    rec["complete"] = False
                    if bad_tasks:
                        problems.append(f"{name} ({label}): {bad_tasks} failed tasks")
                else:
                    rec["s"][name] = secs
            return rec

        passes: list[dict] = []  # {"traced": bool, "s": {query: seconds}, "c": {query: counters}}
        # a fixed floor of passes, so the median does not depend on how
        # many passes the machine's speed let into --seconds
        min_passes = 4 if args.trace else 3
        while True:
            k = len(passes)
            # traced runs go in blocks U T T U (untraced, traced, traced,
            # untraced): warming drift within a block cancels out of the
            # traced-minus-untraced overhead
            passes.append(run_pass(f"p{k}", traced=bool(args.trace) and k % 4 in (1, 2)))
            if k + 1 >= min_passes and time.perf_counter() - t_first >= args.seconds:
                break
        attempted, failed = tally["attempted"], tally["failed"]

        plain = [p for p in passes if not p["traced"] and p["complete"]]
        if not plain:
            raise RuntimeError("no untraced pass completed: " + "; ".join(problems))
        pass_times = [sum(p["s"].values()) for p in plain]
        per_query = {q: [p["s"][q] for p in plain] for q in names}
        run_env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "driver_memory": env["SPARK_DRIVER_MEMORY"],
            "driver_java_options": DRIVER_JAVA_OPTIONS,
            "sf_dir": os.path.relpath(DATA_DIR, ROOT), "inputs": fingerprint,
            "rev": source_rev(), "queries": names,
        }
        record = {"env": run_env, "setup_s": setup_s, "setup_parts": setup_parts,
                  "prep_s": prep_s, "passes": passes,
                  "problems": problems, "result_rows": result_rows}

        if args.trace:
            traced = [p for p in passes if p["traced"] and p["complete"]]
            if not traced:
                raise RuntimeError("no traced pass completed: " + "; ".join(problems))
            metrics = layer_metrics([p["c"] for p in traced], result_rows)
            by_pass: dict[str, list] = {}
            for s in obs.spans:
                by_pass.setdefault(s.trace_id.split("-", 1)[0], []).append(s)
            span_self = [self_times(spans) for spans in by_pass.values()]
            for kind in ("query", "build", "build_sql", "execute"):
                metrics[f"span.{kind}.self_s"] = median([d.get(kind, 0.0) for d in span_self])
            metrics["trace.overhead_frac"] = (
                median([sum(p["s"].values()) for p in traced]) / median(pass_times) - 1.0)
            metrics["check.oracle_mismatches"] = float(mismatches)
            obs.collect_garbage()
            metrics.update(fixpoint_instruments(obs, DATA_DIR))
            record["spans"] = [vars(s) for s in obs.spans]
        else:
            peak = peak_rss_mb(spark)
            metrics = {
                "setup_s": setup_s,
                "pass_s": median(pass_times),
                "query_geomean_s": geomean([median(v) for v in per_query.values()]),
                "peak_rss_mb": peak["jvm"] + peak["python"],
            }
            record["peak_rss_mb"] = peak
        record["metrics"] = metrics

        runs = os.path.join(WORK, "runs")
        os.makedirs(runs, exist_ok=True)
        path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)

        print("env: " + " ".join(f"{k}={v}" for k, v in run_env.items() if k != "queries"))
        for line in problems:
            print(f"FAILED {line}")
        tail = tail_percentile(pass_times)
        tail_txt = f"p{tail[0]:g} {tail[1]:.4f} s" if tail else "no percentile above the median"
        print(f"{args.workload}: pass_s median {median(pass_times):.4f} s over "
              f"{len(pass_times)} passes ({tail_txt}); setup_s {setup_s:.3f} s; "
              f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} query runs)")
        for key, value in metrics.items():
            print(f"  {key} = {value:.6g}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        stop_session(spark)


def metric_units() -> dict[str, str]:
    """name -> unit of every metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd, check=False).returncode)
        return rc
    return run_workload(args, metric_units())


if __name__ == "__main__":
    sys.exit(main())
