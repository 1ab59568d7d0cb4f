"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload curation_steps --seed 1 --seconds 12 --trace 0

Run from the repository root. Steps:

1. Generate the inputs from ``--seed`` under ``.perfbench/`` (parquet
   tables at SF, five happiness CSVs).
2. Start the engine's session on ``local[<cores>]`` and run an untimed
   warm pass that collects every result; check each result against its
   DuckDB oracle (the happiness leg against the upsert invariants);
   then run the workload's further untimed passes in the timed form
   (``WARM_PASSES``). Session start plus the warm passes (not the
   check) is ``setup_s``.
3. Timed passes, each in a seed-permuted query order, until
   ``--seconds`` have elapsed (at least one pass). Every query runs
   ``fn(spark, sf_dir)`` through a final ``noop`` write; the next one
   starts only after it finishes.
4. ``--trace 0`` reports the end-to-end metrics. ``--trace 1``
   alternates untraced and traced passes, reports the per-layer
   metrics of the traced ones (per pass) and the tracing overhead, and
   writes the span tree under ``.perfbench/traces/``.

Prints one line per metric (workload, name, value, unit), then one JSON
object as the last line. Exits 1 when any result is wrong, 2 when the
program under test is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import uuid

import datagen
from measure import failed_frac, tail_percentile, wall_sum_of_medians, wall_sum_of_mins
from tracing import (ProgressListener, Tracer, attach_streams, collect_jobs, layer_metrics,
                     peak_rss_mb, proc_stat, python_worker_cpu_s, write_spans)
from workloads import HAPPINESS, WARM_PASSES, WORKLOADS, HappinessLeg, OracleChecker, no_span

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01
HAPPINESS_ROWS_PER_YEAR = 200
DEADLINE_S = 170.0
DRIVER_MEMORY = "3g"
E2E_UNITS = {"wall_best_s": "s", "setup_s": "s"}


def _is_traced(tracer, seed: int, pass_no: int) -> bool:
    """Traced and untraced passes alternate; which comes first flips
    with the seed, so the overhead estimate is not biased by the
    residual warm-up of the first timed pass."""
    return tracer is not None and (pass_no + seed) % 2 == 0


def _watchdog(deadline: float, pids: list[int]) -> None:
    """Hard stop: kill the JVM and exit without a result if the run
    overruns its deadline."""
    def fire():
        time.sleep(max(0.0, deadline - time.monotonic()))
        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s, aborting", file=sys.stderr)
        for pid in pids:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        os._exit(3)

    threading.Thread(target=fire, daemon=True).start()


def _confine_scratch(work: str) -> None:
    """Point every scratch location (Python temp files, the JVM's temp
    and perf-data files, Spark's shuffle and spill directories) inside
    the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]))


def _start_session(cores: int, work: str):
    from workshop3_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_session(spark, jvm_proc) -> None:
    """Stop Spark, shut the JVM down and wait for it and the PySpark
    worker processes to end."""
    workers = []
    for p in os.listdir("/proc"):
        with contextlib.suppress(OSError, ValueError, IndexError):
            if p.isdigit() and proc_stat(p)[1] == jvm_proc.pid:
                workers.append(int(p))
    gateway = spark.sparkContext._gateway
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    with contextlib.suppress(Exception):
        jvm_proc.stdin.close()
    try:
        jvm_proc.wait(timeout=20)
    except Exception:
        jvm_proc.kill()
        jvm_proc.wait()
    for pid in workers:
        for _ in range(100):
            if not os.path.exists(f"/proc/{pid}"):
                break
            time.sleep(0.05)
        else:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


class Runner:
    """Runs the workload's operations and keeps the outcome of each."""

    def __init__(self, spark, workload: str, data_dir: str, leg: HappinessLeg):
        from workshop3_etl_spark.plans import registry

        self.spark = spark
        self.names = WORKLOADS[workload]
        self.data_dir = data_dir
        self.leg = leg
        fns = registry.queries()
        self.fns = {n: fns[n] for n in self.names if n != HAPPINESS}
        self.outcomes: list[bool] = []
        self.errors: dict[str, str] = {}
        self.upserts: list[tuple[int, float, bool]] = []  # rows, seconds, traced
        self.warm_times: dict[str, float] = {}

    def order(self, seed: int, pass_no: int) -> list[str]:
        names = list(self.names)
        random.Random(f"{seed}:{pass_no}").shuffle(names)
        return names

    def _fail(self, name: str, msg: str) -> None:
        self.errors.setdefault(name, msg)

    def warm_pass(self, seed: int) -> dict[str, tuple[list[str], list[tuple]]]:
        """Untimed first pass; collects each result for the oracle check."""
        results = {}
        for name in self.order(seed, 0):
            t0 = time.perf_counter()
            try:
                if name == HAPPINESS:
                    self.leg.run()
                else:
                    df = self.fns[name](self.spark, self.data_dir)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
                self.outcomes.append(True)
            except Exception as e:  # noqa: BLE001 - counted as a failure
                self.outcomes.append(False)
                self._fail(name, f"raised {type(e).__name__}: {str(e)[:200]}")
            self.warm_times[name] = round(time.perf_counter() - t0, 3)
        return results

    def check(self, results, checker: OracleChecker) -> None:
        """A warm-pass execution whose result is wrong turns from a
        success into a failure."""
        for name in self.names:
            if name in self.errors:
                continue
            try:
                if name == HAPPINESS:
                    problem = "; ".join(self.leg.check()) or None
                else:
                    problem = checker.check(name, *results[name])
            except Exception as e:  # noqa: BLE001
                problem = f"check raised {type(e).__name__}: {str(e)[:200]}"
            if problem:
                self._fail(name, problem)
                self.outcomes.remove(True)
                self.outcomes.append(False)

    def run_one(self, name: str, tracer: Tracer | None = None) -> float | None:
        """One timed-form execution; returns its latency, or None if it raised."""
        t0 = time.perf_counter()
        try:
            if name == HAPPINESS:
                rows = self.leg.run()
                self.upserts.append((rows, time.perf_counter() - t0, tracer is not None))
            elif tracer is None:
                self.fns[name](self.spark, self.data_dir).write.format("noop").mode(
                    "overwrite").save()
            else:
                with tracer.span("plans.build"):
                    df = self.fns[name](self.spark, self.data_dir)
                with tracer.span("operators.write"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            self.outcomes.append(False)
            self._fail(name, f"raised {type(e).__name__}: {str(e)[:200]}")
            return None
        self.outcomes.append(True)
        return time.perf_counter() - t0


def _latencies(samples: dict[str, list[float]]) -> dict:
    pooled = [x for v in samples.values() for x in v]
    tail, pct = tail_percentile(pooled)
    return {
        "wall_best_s": wall_sum_of_mins(samples),
        "wall_s": wall_sum_of_medians(samples),
        "query_p50_s": statistics.median(pooled),
        "query_tail_s": tail,
        "tail_percentile": pct,
        "samples": len(pooled),
    }


def _timed_passes(runner: Runner, seed: int, seconds: float, tracer: Tracer | None,
                  run_id: str, jvm_pid: int):
    """Closed-loop timed passes; with a tracer every other pass is
    traced. Returns untraced and traced samples per query and the pass
    count."""
    spark, leg = runner.spark, runner.leg
    sc = spark.sparkContext
    samples = {n: [] for n in runner.names}
    traced_samples = {n: [] for n in runner.names}
    listener = ProgressListener() if tracer else None
    t0 = time.perf_counter()
    pass_no = 0
    with tracer.span("run", queries=runner.names) if tracer else contextlib.nullcontext():
        while pass_no < (2 if tracer else 1) or time.perf_counter() - t0 < seconds:
            pass_no += 1
            if not _is_traced(tracer, seed, pass_no):
                for name in runner.order(seed, pass_no):
                    dt = runner.run_one(name)
                    if dt is not None:
                        samples[name].append(dt)
                continue
            tracer.patch_layers()
            spark.streams.addListener(listener.listener)
            leg.span = tracer.span
            with tracer.span("pass", pass_no=pass_no):
                for name in runner.order(seed, pass_no):
                    cpu0 = python_worker_cpu_s(jvm_pid)
                    with tracer.span("query", query=name) as q:
                        sc.setJobGroup(f"{run_id}-{q.span_id}", name, False)
                        dt = runner.run_one(name, tracer)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    q.attrs["python_cpu_s"] = python_worker_cpu_s(jvm_pid) - cpu0
                    if dt is not None:
                        traced_samples[name].append(dt)
            # deliver the pass's last progress events before detaching
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(listener.listener)
            tracer.unpatch()
            leg.span = no_span
    return samples, traced_samples, pass_no, listener


def _per_layer(runner: Runner, tracer: Tracer, listener: ProgressListener, n_traced: int,
               untraced_wall: float, traced_samples, cores: int) -> tuple[dict, dict]:
    """Per-layer metrics per traced pass, and the span-file extras."""
    sc = runner.spark.sparkContext
    stream_runs = attach_streams(tracer, listener.starts)
    groups = {f"{tracer.run_id}-{s.span_id}" for s in tracer.spans if s.name == "query"}
    jobs = collect_jobs(sc, groups | set(stream_runs))
    time.sleep(0.2)  # let the last progress callbacks land
    layers, detail = layer_metrics(tracer, jobs, list(listener.events), stream_runs, cores)
    per_layer = {k: v / n_traced for k, v in layers.items()}
    per_layer["spark.slot_busy_frac"] = layers["spark.slot_busy_frac"]
    traced_upserts = [(r, s) for r, s, traced in runner.upserts if traced]
    rows = sum(r for r, _ in traced_upserts)
    secs = sum(s for _, s in traced_upserts)
    per_layer["upsert.rows"] = rows / n_traced
    per_layer["upsert.rows_per_s"] = rows / secs if secs else 0.0
    per_layer["trace.wall_s"] = _latencies(traced_samples)["wall_best_s"]
    per_layer["trace.overhead_s"] = per_layer["trace.wall_s"] - untraced_wall
    extras = {
        "detail": detail,
        # micro-batch jobs run under their stream's run id as job group,
        # not the group set around the query
        "streaming_jobs_inherit_job_group": (
            None if not stream_runs else not any(j["group"] in stream_runs for j in jobs)),
        "stream_runs": stream_runs,
        "jobs": len(jobs),
    }
    return per_layer, extras


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "workshop3_etl_spark", "__init__.py")):
        print(f"perfbench: package workshop3_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".perfbench", f"run-{run_id}")
    os.makedirs(work)
    _confine_scratch(work)
    cores = len(os.sched_getaffinity(0))
    data_dir = os.path.join(work, "data")
    sizes = datagen.write_tables(data_dir, args.seed, SF)
    csvs = datagen.write_happiness(os.path.join(work, "happiness"), args.seed,
                                   HAPPINESS_ROWS_PER_YEAR,
                                   os.path.join(ROOT, "tests", "fixtures", "happiness"))

    t0 = time.perf_counter()
    spark = _start_session(cores, work)
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    # the window-without-partition warnings are expected by design
    sc.setLogLevel("ERROR")
    jvm_proc = sc._gateway.proc
    _watchdog(t_begin + DEADLINE_S, [jvm_proc.pid])
    leg = HappinessLeg(spark, csvs, os.path.join(work, "leg"))
    runner = Runner(spark, args.workload, data_dir, leg)

    results = runner.warm_pass(args.seed)
    t_check = time.perf_counter()
    checker = OracleChecker(data_dir, cores)
    runner.check(results, checker)
    checker.close()
    del results
    t_warm2 = time.perf_counter()
    # untimed passes in the timed form until the workload's pass times
    # have settled
    for warm_no in range(WARM_PASSES[args.workload]):
        for name in runner.order(args.seed, -1 - warm_no):
            runner.run_one(name)
    t_meas = time.perf_counter()
    setup_s = (t_check - t0) + (t_meas - t_warm2)

    tracer = Tracer(run_id) if args.trace else None
    samples, traced_samples, passes, listener = _timed_passes(
        runner, args.seed, args.seconds, tracer, run_id, jvm_proc.pid)
    measured_s = time.perf_counter() - t_meas
    rss = peak_rss_mb([os.getpid(), jvm_proc.pid])

    attempted, failed, frac = failed_frac(runner.outcomes)
    lat = _latencies(samples)
    w = args.workload
    info = {
        "seed": args.seed, "cores": cores, "sf": SF, "clients": 1,
        "happiness_rows_per_year": HAPPINESS_ROWS_PER_YEAR,
        "passes": passes, "measured_s": round(measured_s, 3), "samples": lat["samples"],
        "wall_s": lat["wall_s"], "query_p50_s": lat["query_p50_s"],
        "query_tail_s": lat["query_tail_s"], "tail_percentile": round(lat["tail_percentile"], 1),
        "failed_frac": frac, "peak_rss_mb": round(rss, 1),
        "session_start_s": round(session_start_s, 3),
        "warm_pass_s": round(t_check - t0 - session_start_s, 3),
        "check_s": round(t_warm2 - t_check, 3), "warm_passes": WARM_PASSES[w],
        "warm_passes_s": round(t_meas - t_warm2, 3),
    }
    untraced_upserts = [(r, s) for r, s, traced in runner.upserts if not traced]
    if untraced_upserts:
        # rows upserted by the happiness leg / the leg's wall time
        info["upsert_rows_per_s"] = (sum(r for r, _ in untraced_upserts)
                                     / sum(s for _, s in untraced_upserts))
    if tracer is None:
        e2e = {"wall_best_s": lat["wall_best_s"], "setup_s": setup_s}
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        n_traced = sum(1 for p in range(1, passes + 1) if _is_traced(tracer, args.seed, p))
        per_layer, extras = _per_layer(runner, tracer, listener, n_traced, lat["wall_best_s"],
                                       traced_samples, cores)
        per_layer["session.start_s"] = session_start_s
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in _layer_units().items()}
        span_file = os.path.join(ROOT, ".perfbench", "traces",
                                 f"{w}-seed{args.seed}-{run_id}.json")
        detail = extras.pop("detail")
        write_spans(span_file, tracer, detail, {"workload": w, **info, **extras})
        info["span_file"] = os.path.relpath(span_file, ROOT)

    leg.close()
    _stop_session(spark, jvm_proc)
    shutil.rmtree(work, ignore_errors=True)
    info["run_s"] = round(time.monotonic() - t_begin, 3)

    for k, v in info.items():
        print(f"info {w} {k} {v}")
    print(f"info {w} input_rows {json.dumps(sizes, sort_keys=True)}")
    print(f"info {w} warm_pass {json.dumps(runner.warm_times)}")
    print(f"info {w} samples_s "
          f"{json.dumps({k: [round(x, 3) for x in v] for k, v in samples.items()})}")
    for name, msg in sorted(runner.errors.items()):
        print(f"FAILED {w} {name}: {msg}")
    for k, m in metrics.items():
        print(f"metric {w} {k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
