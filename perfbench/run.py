#!/usr/bin/env python3
"""Request-level benchmark of tank_spark.

    python3 perfbench/run.py --workload tile_write_mix --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. One closed-loop client sends the
workload's seeded requests through the public ``tank_spark`` API, checks
every output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics every workload shares (``E2E``), ``--trace 1`` the
per-layer metrics of a traced run. A ``# detail`` line before it carries
every end-to-end metric of the workload with its unit, the per-op-type
figures among them. ``--workload all`` runs each workload in turn, prints
each one's result as a ``# <workload>`` line, and ends with their sum.

A workload repeats cycles of a fixed op multiset (seeded) until
``--seconds`` have passed and it has run its ``min_cycles``, always
finishing the cycle it is in. The
program's set-up (feature-table build, corpus load) is done
``SETUP_ROUNDS`` times on fresh copies of the seeded stored data and its
median reported, so work moved into set-up shows. Everything the run
writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
SETUP_ROUNDS = 3

WORKLOADS = ("tile_read", "tile_write_mix", "curation_batch", "curation_full")
WRITES = ("ingest", "update", "delete")

# the end-to-end metrics every workload reports, never 0; the others
# spread more between runs (read_p50_s of the write mix is the mean of a
# cache hit and a heatmap), and requests_per_s is ops per cycle / pass_s,
# so pass_s judges it
E2E = ("setup_s", "pass_s")
# end-to-end metrics the traced run reports too: those of single op types
# (0 where the workload sends no such op), and peak memory, which spreads
# ~25% between seeds with the JVM heap's growth
TRACED_E2E = {"mvt_p50_s": "s", "mvt_hit_p50_s": "s", "heatmap_p50_s": "s",
          "write_p50_s": "s", "ingest_rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _workload(name: str):
    from perfbench.curation import CurationBatch, CurationFull
    from perfbench.tiles import TileRead, TileWriteMix

    return {"tile_read": TileRead, "tile_write_mix": TileWriteMix,
            "curation_batch": CurationBatch, "curation_full": CurationFull}[name]


def e2e_metrics(rounds: list[float], samples: list[dict], peak_rss: float,
                attempted: int = 1, failed: int = 0) -> dict:
    """Every end-to-end metric {name: (value, unit)} a workload reports,
    from the set-up rounds and the untraced op samples of a run: ``E2E``
    first, then those of the op types in its mix."""
    from perfbench import stats

    untraced = [s for s in samples if not s["traced"]]
    pass_s = stats.cycle_time(untraced)
    per_cycle = len(untraced) / max(1, len({s["cycle"] for s in untraced}))
    reads = [s["s"] for s in untraced if s["op"] not in WRITES]
    writes = [s["s"] for s in untraced if s["op"] in WRITES]
    ingests = [s for s in untraced if s["op"] == "ingest"]
    m = {
        "setup_s": (stats.median(rounds), "s"),
        "pass_s": (pass_s, "s"),
        "requests_per_s": (per_cycle / pass_s if pass_s else 0.0, "ops/s"),
        "read_p50_s": (stats.median(reads), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "error_rate": (failed / max(1, attempted), "ratio"),
    }
    tail = stats.tail(reads)
    if tail:
        m["read_tail_s"] = (tail[0], "s")
    if writes:
        m["write_p50_s"] = (stats.median(writes), "s")
        tail = stats.tail(writes)
        if tail:
            m["write_tail_s"] = (tail[0], "s")
    if ingests:
        m["ingest_rows_per_s"] = (sum(s["rows"] for s in ingests)
                                  / sum(s["s"] for s in ingests), "rows/s")
    for op in sorted({s["op"] for s in untraced}):
        m[f"{op}_p50_s"] = (stats.median(s["s"] for s in untraced if s["op"] == op), "s")
    return m


def _run_all(args) -> int:
    """Each workload in its own process; their results summed."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        for line in lines[:-1]:
            print(f"# {name} {line}")
        res = json.loads(lines[-1])
        print(f"# {name} {json.dumps(res)}")
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import tank_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None

    from perfbench import stats
    from perfbench.session import make_session
    from perfbench.trace import Tracer

    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = make_session(ROOT, event_dir)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=False)
        wl = _workload(args.workload)(spark, work, args.seed, tracer)
        t = time.perf_counter()
        wl.prepare(os.path.join(work, "sf"))
        prepare_s = time.perf_counter() - t
        rounds = []
        for r in range(SETUP_ROUNDS):
            d = os.path.join(work, f"round{r}")
            t = time.perf_counter()
            wl.setup_round(d)
            rounds.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(os.path.join(work, f"round{r - 1}"), ignore_errors=True)
        wl.start()
        cycles = wl.cycles()
        t = time.perf_counter()
        attempted, failed = wl.warm_up(next(cycles), traced=bool(args.trace))
        warmup_s = time.perf_counter() - t

        samples, ok_n, bad_n = _measure(wl, cycles, tracer, args)
        attempted += ok_n + bad_n
        failed += bad_n
        peak_rss = stats.peak_rss_mb()
        layer_extra = wl.layer_stats() if args.trace else {}
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        shutdown_s = time.perf_counter() - t

    e2e = e2e_metrics(rounds, samples, peak_rss, attempted, failed)
    detail = {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "session_s": session_s, "prepare_s": prepare_s, "setup_rounds_s": rounds,
        "warmup_s": warmup_s, "shutdown_s": shutdown_s,
        "warmup_op_s": wl.warm_s,
        "ops": sum(not s["traced"] for s in samples),
        "cycles": len({s["cycle"] for s in samples if not s["traced"]}),
        # (value, percentile, n) of the read tail, once a run has 11 reads
        "read_tail": stats.tail(s["s"] for s in samples
                                if not s["traced"] and s["op"] not in WRITES),
    }
    if args.trace:
        from perfbench.layers import per_layer

        tracer.write(os.path.join(work, "spans.json"))
        metrics, op_split = per_layer(samples, tracer.spans, event_dir, layer_extra)
        metrics.update({k: e2e.get(k, (0.0, u)) for k, u in TRACED_E2E.items()})
        detail["op_split"] = op_split
    else:
        metrics = {k: e2e[k] for k in E2E}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"detail": detail, "metrics": metrics, "samples": samples}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("# detail " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _measure(wl, cycles, tracer, args):
    """Closed loop, one client: whole cycles until ``--seconds`` passed
    and at least the workload's ``min_cycles``, so every op-type median
    has that many samples. A traced run alternates untraced and traced
    cycles (at least one of each), so both halves see the same session
    and event log."""
    from perfbench.oracle import report_failed

    samples, ok_n, bad_n = [], 0, 0
    need = 2 if args.trace else wl.min_cycles
    t_start = time.perf_counter()
    for i, cycle in enumerate(cycles):
        traced = bool(args.trace) and i % 2 == 1
        tracer.enabled = traced
        for req in cycle:
            if traced:
                wl.probe_source()
            with tracer.span("op", op=req["op"]) as rec:
                t = time.perf_counter()
                try:
                    _, check = wl.call(req)
                except Exception as e:  # a failed request counts as failed
                    print(f"perfbench: {req['op']} failed: {e!r}"[:2000], file=sys.stderr)
                    check = None
                dt = time.perf_counter() - t
            tracer.enabled = False
            ok = check is not None and bool(check())
            if not ok:
                report_failed(req)
            tracer.enabled = traced
            ok_n += ok
            bad_n += not ok
            samples.append({"op": req["op"], "s": dt, "ok": ok, "cycle": i,
                            "traced": traced, "span": rec.get("id"),
                            "rows": len(req.get("rows", ()))})
        tracer.enabled = False
        if time.perf_counter() - t_start >= args.seconds and i + 1 >= need:
            break
    return samples, ok_n, bad_n


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.stats import process_tree

    children = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; its parent reaps it
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
