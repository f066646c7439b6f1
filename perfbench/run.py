"""Benchmark driver: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

--trace 0 times the workload and reports the end-to-end metrics;
--trace 1 runs one traced pass (event log on, one job group per layer)
and reports the per-layer metrics and the tracing overhead.  Every
metric is printed by name and unit; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}.  A JSON artifact with
the host facts, control probes and every pass goes to perfbench/out/.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(REPO), str(REPO / "scripts")]

import host  # noqa: E402

# job groups outside the traced pass: set-up, untimed passes, checks
NOT_TRACED = ("", "setup", "run", "check")
LINKING = ("linking.stats", "linking")


def units(kind: str) -> dict[str, str]:
    """name -> unit of the "end_to_end" or "per_layer" metrics."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """(q, value): the highest percentile with at least ten samples
    beyond it, or None when there are fewer than 20 samples."""
    if len(xs) < 20:
        return None
    q = 1 - 10 / len(xs)
    return q, sorted(xs)[int(q * len(xs)) - 1]


def _state_file(work_root: Path, workload: str) -> Path:
    return work_root / "state" / f"{workload}.jsonl"


def _load_state(work_root, workload, sha):
    path = _state_file(work_root, workload)
    if not path.exists():
        return []
    rows = [json.loads(line) for line in path.read_text().splitlines() if line]
    return [r for r in rows if r["source_sha"] == sha]


def _save_state(work_root, workload, row):
    path = _state_file(work_root, workload)
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps(row) + "\n")


def layer_metrics(w, lay, groups, window, cores, kernel, wall):
    """Every per-layer metric named in BENCHMARK.json.  A layer the
    workload never calls did no work and reads 0."""
    import eventlog
    from workloads import SUITE_QUERIES
    ann = eventlog.merged(groups, ["annotate"])
    link = eventlog.merged(groups, LINKING)
    total = eventlog.merged(groups, [g for g in groups if g not in NOT_TRACED])
    lo, hi = window
    m = {
        # the input pages are scanned by the annotate call only
        "sources.scan_s": ann["scan_s"],
        "sources.input_bytes": w.input_bytes,
        "annotate.py_init_s": ann["py_init_s"],
        "annotate.py_run_s": ann["py_run_s"],
        "annotate.bytes_to_py": ann["bytes_to_py"],
        "annotate.bytes_from_py": ann["bytes_from_py"],
        "linking.jobs": link["jobs"],
        "linking.shuffle_bytes": link["shuffle_write_bytes"],
        "canonicalize.jobs": eventlog.merged(groups, ["canonicalize"])["jobs"],
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.task_s": total["task_s"],
        "spark.cpu_s": total["cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.core_busy_frac": total["task_s"] / ((hi - lo) * cores),
        "spark.no_job_s": (hi - lo) - eventlog.covered_s(total.intervals, lo, hi),
        "spark.shuffle_read_bytes": total["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.failed_tasks": total["failed_tasks"],
        "trace.wall_s": wall,
        **{f"kernel.{k}_us_per_char": v for k, v in kernel.items()},
        **{f"suite.{q}.jobs": eventlog.merged(groups, [f"suite.{q}"])["jobs"]
           for q in SUITE_QUERIES},
    }
    m.update(lay)
    return {k: m.get(k, 0.0) for k in units("per_layer")}


def run(args) -> int:
    name = args.workload
    work_root = HERE / "work" / ("tiny" if args.tiny else "full")
    work = work_root / name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host.confine_to(work_root)

    # imports the program: fails (non-zero exit, no result) where the
    # checkout holds only the benchmark
    import workloads
    facts = host.facts()
    cores = facts["cores"]
    w = workloads.WORKLOADS[name](work, args.seed, args.tiny)
    host.control_sec()  # the first probe pays the kernel imports
    controls = [host.control_sec()]
    event_log = work / "eventlog" if args.trace else None

    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0

    # one cold set-up: JVM launch, session, broadcast, worker warm-up
    t0 = time.perf_counter()
    spark = host.spark_session(work, event_log)
    w.setup(spark)
    setup_s = time.perf_counter() - t0

    # untraced runs of the same code in this checkout: the reference
    # output of each seed, and the baseline of the tracing overhead
    state = _load_state(work_root, name, facts["source_sha"])
    expected = {r["seed"]: r["fingerprint"] for r in state}.get(args.seed)
    passes, errors, problems, fps = [], [], [], set()
    t0 = time.perf_counter()
    try:
        problems = w.warm_check(spark)
    except Exception:  # counted as a failed check, not fatal
        errors.append(traceback.format_exc())
    check_s = time.perf_counter() - t0
    rss = host.RssSampler()
    traced = None
    # a warm check that raised leaves nothing to time
    if not errors and not args.trace:
        with rss:
            while (len(passes) < w.min_passes
                   or sum(p.wall_s for p in passes) < args.seconds):
                try:
                    passes.append(w.iterate(spark, len(passes)))
                except Exception:  # a failed pass is counted, not fatal
                    errors.append(traceback.format_exc())
                    if len(errors) > 2:
                        break
        problems += [q for p in passes for q in p.problems]
        fps = {p.fingerprint for p in passes}
    elif not errors:
        try:
            traced = w.traced(spark)
            problems += traced.problems
            fps = {traced.fingerprint}
        except Exception:
            errors.append(traceback.format_exc())
    host.stop_jvm()
    controls.append(host.control_sec())

    walls = [p.wall_s for p in passes]
    if len(fps) > 1:
        problems.append(f"outputs differ between passes: {sorted(fps)}")
    if expected is not None and fps and fps != {expected}:
        problems.append(f"output {sorted(fps)} != the untraced output "
                        f"{expected} of an earlier run")
    if passes and not args.trace:
        _save_state(work_root, name, {
            "seed": args.seed, "source_sha": facts["source_sha"],
            "wall_p50_s": _median(walls), "fingerprint": passes[0].fingerprint})

    attempted = max(1, len(passes) + len(errors))
    failed = len(errors) + (1 if problems else 0)
    for e in errors:
        print(e, file=sys.stderr)
    for q in problems:
        print(f"CHECK FAILED: {q}", file=sys.stderr)

    result = {"workload": name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": facts,
              "loadavg_1m_end": host.loadavg_1m(),
              "control_sec": controls,
              "control_ratio": max(controls) / min(controls),
              "gen_s": gen_s, "reference_s": getattr(w, "reference_s", None),
              "setup_s": setup_s, "warm_check_s": check_s,
              "pass_walls_s": walls,
              "failed_frac": failed / attempted,
              "problems": problems}
    metrics = {}
    if passes:
        rate = lambda attr: _median([getattr(p, attr) / p.wall_s for p in passes])
        metrics = {"setup_s": setup_s, "wall_p50_s": _median(walls),
                   "docs_per_s": rate("docs"), "chars_per_s": rate("chars"),
                   "tokens_per_s": rate("tokens"), "edges_per_s": rate("edges"),
                   "peak_rss_mb": rss.peak_mb}
        result["wall_tail"] = tail(walls)
    if traced is not None:
        import eventlog
        import kernel_probe
        wall = traced.wall_s
        sample = w.kernel_sample()
        kernel = kernel_probe.phase_us_per_char(sample) if sample else {}
        groups = eventlog.read_event_log(event_log)
        shutil.rmtree(event_log)
        window = (traced.start_epoch, traced.start_epoch + wall)
        metrics = layer_metrics(w, traced.layers, groups, window, cores,
                                kernel, wall)
        untraced = [r["wall_p50_s"] for r in state]
        result["untraced_wall_p50_s"] = _median(untraced)
        result["trace_overhead_s"] = (wall - _median(untraced)
                                      if untraced else None)
    result["end_to_end" if not args.trace else "per_layer"] = metrics

    out = HERE / "out"
    out.mkdir(exist_ok=True)
    tag = "tiny-" if args.tiny else ""
    (out / f"{tag}{name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(result, indent=1, default=str))

    print(f"# {name} seed={args.seed} trace={args.trace} cores={cores} "
          f"driver_memory_mb={facts['driver_memory_mb']} "
          f"loadavg {facts['loadavg_1m_start']}->{result['loadavg_1m_end']} "
          f"control_ratio={result['control_ratio']:.3f}")
    print(f"# passes={len(walls)} attempted={attempted} failed={failed}")
    print("failed_frac", result["failed_frac"], "frac")
    if passes:
        t = result["wall_tail"]
        print("wall_tail_s", f"{t[1]} s (p{100 * t[0]:.0f}, n={len(walls)})"
              if t else f"n/a s (n={len(walls)} < 20 samples)")
    if traced is not None:
        o = result["trace_overhead_s"]
        print("trace_overhead_s",
              f"{o} s (traced wall - median wall_p50_s of {len(state)} "
              "untraced runs)" if o is not None
              else "n/a s (no untraced run of this code in the checkout)")
    unit = units("per_layer" if args.trace else "end_to_end")
    for k, v in metrics.items():
        print(k, v, unit[k])
    if not metrics:
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": float(v), "unit": unit[k]}
                                  for k, v in metrics.items()}}))
    return 0


def smoke() -> int:
    """Every workload at tiny size, untraced then traced: every metric
    named in BENCHMARK.json must be present with its unit, and every
    output check, traced against untraced included, must pass."""
    import workloads
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    shutil.rmtree(HERE / "work" / "tiny", ignore_errors=True)
    bad = []
    for name in workloads.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", name,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace),
                 "--tiny"],
                cwd=REPO, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            last = json.loads(lines[-1]) if proc.returncode == 0 else {}
            got = last.get("metrics", {})
            for m in spec[kind]:
                if not got.get(m["name"], {}).get("unit"):
                    bad.append(f"{name}: {kind} metric {m['name']} missing")
            if not last.get("correct") or last.get("failed"):
                bad.append(f"{name} trace={trace}: checks failed "
                           f"(exit {proc.returncode}): {proc.stderr[-2000:]}")
            print(f"smoke {name} trace={trace}: "
                  f"{time.perf_counter() - t0:.1f} s")
    for b in bad:
        print("SMOKE FAILED:", b)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs (used by --smoke)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload tiny and check every metric")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        return run(args)
    finally:
        if "pyspark" in sys.modules:
            host.stop_jvm()


if __name__ == "__main__":
    sys.exit(main())
