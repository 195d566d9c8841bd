#!/usr/bin/env python3
"""Whisper-store benchmark: one workload per run, one closed-loop client.

Run from the repository root::

    python3 perfbench/run.py --workload render_small_tree --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12   # every workload, both modes

A run builds (or reuses) the seeded fixture, sets a Spark session up, warms
the workload's code paths, then sends one request at a time until the
requests' summed wall time reaches ``--seconds``; each output is checked
outside the timed region. After the loop the session is torn down and set
up again, so ``setup_s`` is the median of several set-ups. The last stdout
line is one JSON object: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced run. The lines
before it print every metric by name and unit (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the metrics the final line carries (mirrors BENCHMARK.json)
END_TO_END = {
    "latency_p50_ms": "ms",
    "requests_per_s": "1/s",
    "setup_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "whisper.plan_s": "s",
    "whisper.partitions": "count",
    "whisper.files_kept_ratio": "ratio",
    "whisper.decode_s": "s",
    "whisper.rows_per_slot": "ratio",
    "whisper.overhead_ms_per_task": "ms",
    "spark.tasks": "count",
    "spark.stages": "count",
    "ops.exec_s": "s",
}
#: session set-ups per run; the first also launches the JVM
SETUPS = 3
#: a run stops itself (without a result) this long after its fixture is ready
DEADLINE_S = 165


class Deadline(BaseException):
    """Raised by the alarm; a BaseException, so the per-request ``except
    Exception`` handlers cannot count it as one failed request and go on."""


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


_T0 = time.monotonic()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from fixtures import probe_file
    from harness import (
        JobStats,
        configure,
        gc_seconds,
        host_cores,
        peak_rss_mb,
        setup,
        shutdown,
    )
    from spans import SpanRecorder
    from workloads import WORKLOADS
    from workloads.base import Context

    work = os.path.join(ROOT, ".perfbench_work")
    cache = os.path.join(ROOT, ".perfbench_cache")
    cores = host_cores()
    conf = configure(ROOT, work, cores)
    rec = SpanRecorder(trace)
    wl = WORKLOADS[name](Context(cache, work, seed, cores, rec))
    wl.prepare()
    probe = probe_file(cache)
    log(f"fixture ready for {name} seed={seed}")

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    spark = None
    setups: list[tuple[float, dict]] = []
    lat: list[float] = []
    # traced run: (traced?, request kind) -> latencies, for the overhead
    lat_by_mode: dict[tuple[bool, str], list[float]] = {}
    layer: dict[str, list[float]] = {}
    failed = 0
    units = 0.0
    timed_s = probe_s = 0.0
    probed: set[str] = set()
    try:
        spark, t, steps = setup(rec, conf, cores, probe)
        setups.append((t, steps))
        log(f"set-up 1: {t:.2f} s")
        rec.enabled = False
        try:
            wl.warmup(spark)
            log("warm-up done")
        except Exception:  # noqa: BLE001 - the timed loop counts failures
            traceback.print_exc(file=sys.stderr)
            log("warm-up failed")
        jobs = JobStats(spark)
        i = 0
        while timed_s < seconds:
            spec = wl.spec(i)
            # the traced run leaves positions 1, 5, 9, ... untraced (renders
            # on render_small_tree), to state the tracing overhead
            traced = trace and i % 4 != 1
            kind = spec.get("kind", wl.main_kind)
            prefix = "" if kind == wl.main_kind else f"{kind}."
            rec.enabled = traced
            wl.begin(spec)
            gc0 = gc_seconds(spark) if traced else 0.0
            jobs.start()
            ok = True
            t0 = time.perf_counter()
            try:
                with rec.span("request", request=i):
                    out = wl.request(spark, spec)
            except Exception:  # noqa: BLE001 - a failed request is counted
                ok = False
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            wl.end(spec)
            counts = jobs.stop()
            lat.append(dt)
            timed_s += dt
            if ok:
                try:
                    units += wl.check(spec, out)
                except Exception as exc:  # noqa: BLE001
                    ok = False
                    print(f"request {i} wrong: {exc!r}", file=sys.stderr)
            failed += not ok
            if trace:
                lat_by_mode.setdefault((traced, kind), []).append(dt)
            if traced:
                counts["jvm.gc_s"] = gc_seconds(spark) - gc0
                for k, v in counts.items():
                    layer.setdefault(prefix + k, []).append(v)
                # probing stops after --seconds, but every kind gets one
                if ok and (probe_s < seconds or kind not in probed):
                    probed.add(kind)
                    t1 = time.perf_counter()
                    with rec.span("probe", request=i):
                        vals = wl.probe(spark, spec, out)
                    probe_s += time.perf_counter() - t1
                    for k, v in vals.items():
                        layer.setdefault(prefix + k, []).append(v)
            i += 1
        rec.enabled = trace
        log(f"{i} requests, {timed_s:.2f} s timed, {probe_s:.2f} s probing; "
            f"latencies (s): {' '.join(f'{x:.2f}' for x in lat)}")
        rss = peak_rss_mb(spark)
        for _ in range(SETUPS - 1):
            spark.stop()
            spark, t, steps = setup(rec, conf, cores, probe)
            setups.append((t, steps))
            log(f"set-up {len(setups)}: {t:.2f} s")
    finally:
        if spark is not None:
            shutdown(spark)
        signal.alarm(0)
        log("session and JVM stopped")

    attempted = len(lat)
    e2e = {
        "latency_p50_ms": median(lat) * 1000.0,
        "requests_per_s": attempted / timed_s,
        "setup_s": median([t for t, _ in setups]),
    }
    extra = {
        "peak_rss_mb": rss,
        "latency_p90_ms": (
            statistics.quantiles(lat, n=10)[-1] * 1000.0 if attempted >= 100 else None
        ),
        f"{wl.unit_name}_per_s": units / timed_s,
        "failed_ratio": failed / attempted,
        "setup_cold_s": setups[0][0],
        **wl.write_stats(),
    }
    result = {
        "workload": name, "seed": seed, "trace": trace, "cores": cores,
        "attempted": attempted, "failed": failed, "timed_s": timed_s,
        "e2e": e2e, "extra": extra,
    }
    if trace:
        layers = {k: median(v) for k, v in layer.items()}
        layers["session.get_spark_s"] = median([s["get_spark_s"] for _, s in setups])
        walls = [s.duration for s in rec.roots("request")]
        n_spans = len(rec.in_trees("request"))
        result.update(
            span_cost_us=span_cost_us(),
            spans_per_request=n_spans / max(len(walls), 1),
            layers=layers,
            layer_samples={k: len(v) for k, v in layer.items()},
            self_times=rec.layer_self_times("request"),
            traced_wall_s=sum(walls),
            **tracing_overhead(lat_by_mode),
        )
        os.makedirs(work, exist_ok=True)
        rec.dump(os.path.join(work, f"trace-{name}-seed{seed}.json"))
    return result


def tracing_overhead(lat_by_mode: dict) -> dict:
    """Median traced − median untraced request wall, over the request kind
    with the most samples in both modes."""
    kinds = {k for _, k in lat_by_mode}
    kind = max(
        kinds,
        key=lambda k: min(len(lat_by_mode.get((m, k), [])) for m in (True, False)),
    )
    on, off = lat_by_mode.get((True, kind), []), lat_by_mode.get((False, kind), [])
    return {
        "overhead_ms": (median(on) - median(off)) * 1000.0,
        "overhead_samples": (len(on), len(off)),
        "overhead_kind": kind,
    }


def span_cost_us() -> float:
    """Wall cost of recording one span, measured on a throwaway recorder."""
    from spans import SpanRecorder

    rec, n = SpanRecorder(True), 2000
    t0 = time.perf_counter()
    for i in range(n):
        with rec.span("x", request=i):
            pass
    return (time.perf_counter() - t0) / n * 1e6


def report(r: dict) -> None:
    """Human-readable lines: every metric with its unit and direction."""
    n = r["attempted"]
    print(f"# {r['workload']} seed={r['seed']} trace={int(r['trace'])} "
          f"local[{r['cores']}] requests={n} failed={r['failed']} "
          f"timed={r['timed_s']:.2f}s")
    e, x = r["e2e"], r["extra"]
    unit = "docs" if "docs_per_s" in x else "points"
    rows = [
        ("latency_p50_ms", e["latency_p50_ms"], "ms", "lower", f"{n} samples"),
        ("latency_p90_ms", x["latency_p90_ms"], "ms", "lower",
         f"{n} samples" if x["latency_p90_ms"] is not None
         else f"n/a: {n} samples, needs >= 100 for 10 beyond it"),
        ("requests_per_s", e["requests_per_s"], "1/s", "higher", ""),
        (f"{unit}_per_s", x[f"{unit}_per_s"], "1/s", "higher", f"{unit} per second of timed wall"),
        ("setup_s", e["setup_s"], "s", "lower",
         f"median of {SETUPS} set-ups; first (JVM launch) {x['setup_cold_s']:.2f} s"),
        ("peak_rss_mb", x["peak_rss_mb"], "MB", "lower", "JVM + Python workers, VmHWM"),
        ("failed_ratio", x["failed_ratio"], "ratio", "lower", f"{r['failed']}/{n}"),
    ]
    if "write_amp" in x:
        rows.append(("write_amp", x["write_amp"], "ratio", "lower",
                     f"{x['write.bytes']:.0f} B in {x['write.files_rewritten']:.0f} file rewrites"))
    for name, v, u, better, note in rows:
        val = "n/a" if v is None else f"{v:.4f}"
        print(f"  {name:<16} {val:>14} {u:<6} {better:<6}  {note}")
    if not r["trace"]:
        return
    print("  per-layer (median per traced request; samples in brackets):")
    for k in sorted(r["layers"]):
        print(f"    {k:<34} {r['layers'][k]:>14.6f}  [{r['layer_samples'].get(k, len(r['self_times']))}]")
    wall = r["traced_wall_s"]
    print(f"  self time of traced requests (total wall {wall:.3f} s):")
    for k, v in sorted(r["self_times"].items(), key=lambda kv: -kv[1]):
        print(f"    {k:<44} {v:>9.3f} s  {100 * v / wall:5.1f} %")
    t, u = r["overhead_samples"]
    kind = f" {r['overhead_kind']}" if r["overhead_kind"] else ""
    print(f"  tracing overhead: {r['overhead_ms']:+.1f} ms per{kind} request "
          f"(median traced - median untraced; {t} vs {u} samples); recording "
          f"{r['spans_per_request']:.1f} spans per request costs "
          f"{r['spans_per_request'] * r['span_cost_us'] / 1000:.3f} ms")


def final_line(r: dict) -> dict:
    if r["trace"]:
        metrics = {
            k: {"value": r["layers"][k], "unit": u}
            for k, u in PER_LAYER.items() if k in r["layers"]
        }
    else:
        metrics = {k: {"value": r["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from workloads import WORKLOADS

    finals = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if proc.returncode != 0 or not lines:
                print(f"# {name} trace={trace} exited {proc.returncode}", flush=True)
                return proc.returncode or 1
            finals[f"{name}/trace{trace}"] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(f["correct"] for f in finals.values()),
        "attempted": sum(f["attempted"] for f in finals.values()),
        "failed": sum(f["failed"] for f in finals.values()),
        "metrics": {
            f"{k}/{m}": v for k, f in finals.items() for m, v in f["metrics"].items()
        },
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("whisper_pandas_spark/__init__.py", "tests/wsp_fixtures.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    try:
        r = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    except Deadline as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    report(r)
    print(json.dumps(final_line(r)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
