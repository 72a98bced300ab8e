"""Repository benchmark: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload enrich_fused --seed 1 --seconds 12 --trace 0

The process submits one Spark action at a time to ``local[nproc]`` and
waits for it. ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
also runs the workload traced and prints the per-layer metrics. The last
stdout line is one JSON object; lines before it start with ``#``. See
README.md in this directory.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3
CHAIN_REPS = 2


def _environment(run_dir: str) -> None:
    """Process environment every Spark and Python worker inherits: the
    checkout on the workers' path, one BLAS thread, scratch inside the
    checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _alive(pid: int) -> bool:
    """Whether the process that owns a run directory is still running."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _source_sha() -> str:
    h = hashlib.sha256()
    pattern = os.path.join(ROOT, "giga_spatial_spark", "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return out.stdout.strip() or None


class Context:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed, work, tracer, pins):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.pins = pins
        self.clock = time.perf_counter
        self.unpinned: list[str] = []

    def check_pin(self, section: str, key: str, actual: str) -> bool | None:
        """True/False against the pinned digest. None when none is pinned;
        the key is then listed as unpinned in the run's output."""
        expected = self.pins.get(section, {}).get(key)
        if expected is None:
            self.unpinned.append(f"{section}:{key}")
            return None
        if expected != actual:
            print(f"# mismatch: {section}[{key}]: expected {expected}, got {actual}")
        return expected == actual


def _start_spark(run_dir: str, cores: int):
    from giga_spatial_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # first Python worker start belongs to session start, not to round one
    from perfbench.workloads import consume

    spark.range(0, cores, 1, cores).mapInPandas(consume, "x int").collect()
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers) to exit. The gateway is unset, so that a later session in the
    same process starts a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(wl, seconds: float, tracer, counters, records: list | None) -> int:
    """Closed loop: one pass at a time until `seconds` have passed.
    Returns the number of failed passes."""
    sc = wl.spark.sparkContext
    failed, start, i = 0, time.perf_counter(), 0
    while time.perf_counter() - start < seconds:
        i += 1
        group = f"pass-{'t' if records is not None else 'u'}{i}"
        sc.setJobGroup(group, wl.name)
        counters.mark()
        try:
            with tracer.span("pass"):
                wl.run_pass()
        except Exception as ex:  # noqa: BLE001 - a failed pass is counted, not fatal
            print(f"# pass failed: {type(ex).__name__}: {str(ex)[:300]}")
            failed += 1
            if failed > 3:
                raise
            continue
        if records is not None:
            jobs, tasks = counters.jobs_tasks(group)
            records.append({
                "spark.jobs": jobs,
                "spark.tasks": tasks,
                **counters.sql_since_mark(),
            })
    sc.setJobGroup("after", wl.name)
    return failed


def _layers(wl, ctx, tracer, counters, records, untraced_p50, traced_p50, session_s, rounds) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the self-time shares."""
    import numpy as np

    from giga_spatial_spark import cells, synth
    from giga_spatial_spark.geometry import GridIndex
    from giga_spatial_spark.operators.pip_join import pip_join_rtree, zone_cover_df
    from giga_spatial_spark.pipeline import salted_count
    from perfbench import workloads
    from perfbench.obs import SQL_METRICS, median, timed

    clock = ctx.clock
    out: dict[str, float] = {
        "session.start_s": session_s,
        "inputs.gen_s": median(rounds),
        "inputs.verify_s": median(tracer.durations("inputs.verify")),
    }

    # layer chain: each action adds one layer to the previous one
    chain_t: dict[str, float] = {}
    with tracer.span("layers.chain"):
        for name, action in wl.chain():
            ts = []
            for _ in range(CHAIN_REPS):
                with tracer.span(f"layer.{name}"):
                    t = clock()
                    result = action()
                    ts.append(clock() - t)
                if name == "sources":  # first column: bytes read from storage
                    out["sources.scan_bytes"] = float(result[0][0])
            chain_t[name] = median(ts)
    out["sources.scan_s"] = chain_t["sources"]
    out["arrow.ship_s"] = chain_t["arrow"]
    names = list(chain_t)
    self_s = {n: chain_t[n] - (chain_t[names[i - 1]] if i else 0.0) for i, n in enumerate(names)}
    shares = {n: v / chain_t[names[-1]] for n, v in self_s.items()}

    # single-process kernels on fixed samples
    from giga_spatial_spark.functions.text import extract_geo_entities_py, extract_text_py
    from giga_spatial_spark.sources import webpages

    html = list(webpages._make_batch(np.arange(2000, dtype=np.int64))["html"])
    texts = [extract_text_py(h) for h in html]
    out["functions.text.extract_us_per_doc"] = 1e6 / len(html) * median(
        [timed(lambda: [extract_text_py(h) for h in html]) for _ in range(3)]
    )
    out["functions.text.entities_us_per_doc"] = 1e6 / len(texts) * median(
        [timed(lambda: [extract_geo_entities_py(t) for t in texts]) for _ in range(3)]
    )
    pts, polys, zoom = wl.pip_inputs()
    keys = np.arange(200_000, dtype=np.int64)
    lon, lat = synth.lon_np(keys), synth.lat_np(keys)
    index = GridIndex({int(k): np.asarray(v, dtype=np.float64) for k, v in polys.items()})
    out["geometry.gridindex.ns_per_point"] = 1e9 / len(keys) * median(
        [timed(lambda: index.query_points(lon, lat, convex=True)) for _ in range(3)]
    )
    out["cells.tile_ns_per_point"] = 1e9 / len(keys) * median(
        [timed(lambda: cells.tile_xy_np(lon, lat, 8)) for _ in range(3)]
    )

    # PIP join counts at the workload's own points and zones
    spark = ctx.spark
    with tracer.span("pip_join.cover_build"):
        out["pip_join.cover_build_s"] = median(
            [timed(lambda: zone_cover_df(spark, polys, zoom)) for _ in range(3)]
        )
    out["pip_join.cover_rows"] = float(zone_cover_df(spark, polys, zoom).count())
    pts = pts.select("lon", "lat").persist()
    pts.count()
    # rows the cover join ships to pip_join_rtree's refine kernel, and
    # (point, zone) rows the kernel returns, read from its plan node
    counters.mark()
    workloads.noop(pip_join_rtree(pts, polys, zoom=zoom))
    _, candidates, refined = counters.python_rows()[0]
    out["pip_join.candidates"] = float(candidates)
    out["pip_join.refined"] = float(refined)
    tagged = workloads._with_tile(pip_join_rtree(pts, polys, zoom=zoom)).persist()
    tagged.count()
    out["pip_join.yield"] = out["pip_join.refined"] / max(out["pip_join.candidates"], 1.0)
    with tracer.span("pipeline.rollup"):
        out["pipeline.rollup_s"] = median(
            [timed(lambda: workloads.noop(salted_count(tagged, ["zone_id", "tile"], "n")))
             for _ in range(2)]
        )
    out.update(wl.lineage_probe(tagged))
    tagged.unpersist()
    pts.unpersist()

    # per-pass medians of the traced loop
    out["query.build_s"] = median(tracer.durations("query.build"))
    out["query.exec_s"] = median(tracer.durations("query.exec"))
    for key in ["spark.jobs", "spark.tasks", *(n for n, _ in SQL_METRICS.values())]:
        out[key] = median([r[key] for r in records])
    out["trace.overhead_s"] = traced_p50 - untraced_p50
    return out, shares


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    os.makedirs(STATE, exist_ok=True)
    for stale in glob.glob(os.path.join(STATE, "run-*")):
        if not _alive(int(stale.rsplit("-", 1)[1])):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    _environment(run_dir)

    import pyarrow
    import pyspark

    from perfbench import inputs, obs
    from perfbench.workloads import UNITS, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_id = f"{workload}-s{seed}-t{int(trace)}-{int(time.time())}"
    tracer = obs.Tracer(run_id, enabled=trace)
    env = {
        "git_sha": _git_sha(), "source_sha": _source_sha(), "nproc": cores,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "workload": workload, "seed": seed,
    }
    pins = inputs.load_pins()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    clock = time.perf_counter

    cpu = obs.cpu_times()
    t0 = clock()
    phases: dict[str, float] = {}
    with tracer.span("session.start"):
        spark = _start_spark(run_dir, cores)
    session_s = clock() - t0
    try:
        ctx = Context(spark, seed, os.path.join(run_dir, "work"), tracer, pins)
        counters = obs.SparkCounters(spark)
        wl = WORKLOADS[workload](ctx)
        weather = {}
        # RSS is sampled over set-up and the measured passes only, not over
        # the traced run and the checks
        with obs.RssSampler(os.getpid()) as rss:
            inputs.check_probes(pins)
            rounds = []
            for _ in range(SETUP_ROUNDS):
                t = clock()
                with tracer.span("inputs.setup_round"):
                    wl.setup_round()
                rounds.append(clock() - t)
            t = clock()
            with tracer.span("warmup"):
                wl.warmup()
            warm_s = clock() - t
            wl.reset()
            setup_s = session_s + obs.median(rounds) + warm_s
            phases["setup"] = clock() - t0
            weather["setup"] = obs.weather(cpu, cpu := obs.cpu_times())

            tracer.enabled = False
            failed = _measure(wl, seconds, tracer, counters, None)
        live_heap_mb = obs.jvm_live_heap_mb(spark)
        attempted = len(wl.samples) + failed
        p50, units_per_s = wl.summary()
        weather["measure"] = obs.weather(cpu, cpu := obs.cpu_times())
        samples = {"pass_s": list(wl.samples)}
        phases["measure"] = clock() - t0

        layers, shares = {}, {}
        if trace:
            wl.reset()
            tracer.enabled = True
            records: list[dict] = []
            f = _measure(wl, seconds, tracer, counters, records)
            failed += f
            attempted += len(wl.samples) + f
            samples["traced_pass_s"] = list(wl.samples)
            layers, shares = _layers(
                wl, ctx, tracer, counters, records, p50, obs.median(wl.samples), session_s, rounds
            )
            weather["trace"] = obs.weather(cpu, cpu := obs.cpu_times())
            phases["trace"] = clock() - t0

        # an unpinned output digest is None here and listed as unpinned
        checks = [(n, ok) for n, ok in wl.check() if ok is not None]
        if trace:
            redone = layers["lineage.units_redone"]
            checks.append(("lineage_units_redone_equals_pending", redone == UNITS - UNITS // 2))
        attempted += len(checks)
        failed += sum(1 for _, ok in checks if not ok)
        for name, ok in checks:
            if not ok:
                print(f"# check failed: {name}")
        weather["check"] = obs.weather(cpu, obs.cpu_times())
        phases["check"] = clock() - t0
    finally:
        _stop_spark(spark)
    phases["stop"] = clock() - t0

    e2e = {
        "setup_s": setup_s,
        "pass_s.p50": p50,
        "units_per_s": units_per_s,
        "python_rss_mb": rss.peak_mb,
        "jvm_live_heap_mb": live_heap_mb,
    }
    n_samples = {"setup_s": SETUP_ROUNDS, "pass_s.p50": len(samples["pass_s"]),
                 "units_per_s": len(samples["pass_s"]), "python_rss_mb": 1,
                 "jvm_live_heap_mb": 1}
    print(f"# env {json.dumps(env)}")
    print(f"# weather {json.dumps(weather)}")
    print(f"# phases (s since session start) {json.dumps(phases)}")
    for name, value in e2e.items():
        print(f"# {name} = {value:.6g} {units[name]} (n={n_samples[name]})")
    for name, value in layers.items():
        print(f"# layer {name} = {value:.6g} {units[name]}")
    for name, share in sorted(shares.items(), key=lambda kv: -kv[1]):
        print(f"# self-time share {name} = {share:.3f}")
    if ctx.unpinned:
        print(f"# unpinned digests (not checked): {', '.join(dict.fromkeys(ctx.unpinned))}")

    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    record = {"env": env, "weather": weather, "end_to_end": e2e, "layers": layers,
              "shares": shares, "samples": samples, "checks": checks, "setup_rounds": rounds,
              "warmup_s": warm_s, "phases": phases,
              "python_rss_split_mb": {"this": rss.peak_split.get(os.getpid(), 0.0),
                                      "workers": sorted(v for p, v in rss.peak_split.items()
                                                        if p != os.getpid())}}
    if trace:
        record["span_self_s"] = tracer.self_times()
        tracer.dump(os.path.join(STATE, "traces", f"{run_id}.spans.jsonl"))
    with open(os.path.join(STATE, "traces", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    values = layers if trace else e2e
    declared = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    if sorted(values) != sorted(declared):
        raise RuntimeError(f"metrics {sorted(values)} differ from BENCHMARK.json {sorted(declared)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["enrich_fused", "pip_points"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "giga_spatial_spark", "__init__.py")):
        print(f"perfbench: no giga_spatial_spark package in {ROOT}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("perfbench: --seed must be >= 0", file=sys.stderr)
        return 2
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception as ex:  # noqa: BLE001 - report and fail without a result line
        import traceback

        traceback.print_exc()
        try:
            detail = str(ex)
        except Exception:  # noqa: BLE001 - a Py4J error needs the stopped gateway
            detail = "(see traceback)"
        print(f"perfbench: run failed: {type(ex).__name__}: {detail}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
