"""libfilter_spark benchmark: closed-loop ``ingest`` and ``serve``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the full record (quartiles, sample counts, leak counters,
versions). See perfbench/README.md for what each workload stresses.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes are per round (ingest) or per served set (serve). The ingest
# global block's ndv hint sizes it at ~37 MB of slices, so its
# assembled probe state crosses the library's 32 MB /dev/shm publish
# threshold; every ingest probe is a first probe of a fresh filter.
# ``extra`` filters are built only in the traced run. Serve's filters
# (0.26 MB block, 24 KB XOR) fit L2 and stay in the 8-entry broadcast
# cache.
CONFIG = {
    "ingest": {
        "keys": {"block": 100_000},
        "extra": {"forest": 100_000},
        "block_ndv": 28_000_000,
        "probe_keys": 150_000,
    },
    "serve": {
        "keys": {"block": 200_000, "xor": 20_000},
        "extra": {"tcf": 200_000},
        "block_ndv": 200_000,
        "probe_keys": 200_000,
    },
}
# Warm-up runs whole rounds until two consecutive ones agree within
# WARMUP_TOL; past WARMUP_CAP_S (after at least two rounds) it stops
# unlevelled, which the record states.
WARMUP_TOL = 0.10
WARMUP_CAP_S = 15.0
MIN_ROUNDS = 3
KERNEL_KEYS = 100_000

END_TO_END = {
    "setup_s": "s", "round_s": "s", "build_keys_per_s": "1/s",
    "probe_keys_per_s": "1/s",
    "bytes_per_key": "B",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (the traced run
    prints exactly these)."""
    units = {}
    for layer in ("spark.build.sharded", "spark.build.partials",
                  "spark.build.grouped_bulk", "spark.forest.forest"):
        units.update({f"{layer}.call_s": "s", f"{layer}.collect_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.stages": "count",
                      f"{layer}.blob_bytes": "B",
                      f"{layer}.n_partials": "count"})
    units["spark.keys.derive_s"] = "s"
    for p in ("spark.probe.block.first", "spark.probe.block.warm",
              "spark.probe.tcf.first", "spark.probe.tcf.warm",
              "spark.probe.forest.first"):
        units.update({f"{p}.call_s": "s", f"{p}.exec_s": "s",
                      f"{p}.jobs": "count", f"{p}.broadcast_bytes": "B"})
    units.update({"spark.probe.semijoin.survivors": "count",
                  "spark.probe.semijoin.matches": "count",
                  "spark.probe.semijoin.useful_ratio": "1",
                  "spark.probe.semijoin.call_s": "s",
                  "spark.probe.semijoin.exec_s": "s"})
    for k in ("block.add", "block.find", "tcf.add", "tcf.union",
              "tcf.freeze", "frozen_tcf.find", "xor.construct",
              "xor.find"):
        units[f"kernels.{k}_ns_per_key"] = "ns"
    units["arrow.noop_pass_s"] = "s"
    for kind in ("block", "tcf", "forest", "xor"):
        units.update({f"fpp.{kind}": "1", f"fpp_ratio.{kind}": "1",
                      f"bytes_per_key.{kind}": "B"})
    units.update({"box.sentinel_start_ns_per_key": "ns",
                  "box.sentinel_end_ns_per_key": "ns",
                  "box.warmup_rounds": "count",
                  "leak.shm_files": "count", "leak.shm_bytes": "B",
                  "leak.persisted_rdds": "count", "tasks.failed": "count",
                  "ops_failed": "1", "trace.round_coverage": "1",
                  "trace.unattributed_s": "s", "trace.overhead_s": "s"})
    return units


def _med(vals):
    return statistics.median(vals) if vals else 0.0


def e2e_samples(wl, rounds: list[dict], setup: dict) -> dict:
    """Per-round samples of each end-to-end metric except setup_s;
    serve's build throughput comes from its three set-up builds."""
    s = {k: [] for k in END_TO_END if k != "setup_s"}
    for r in rounds:
        res = r["res"]
        s["round_s"].append(r["s"])
        probes = res["probes"]
        s["probe_keys_per_s"].append(
            sum(p["n_in"] + p["n_out"] for p in probes)
            / sum(p["s"] for p in probes))
        if wl.name == "ingest":
            s["build_keys_per_s"].append(res["build_keys"] / res["build_s"])
            s["bytes_per_key"].append(
                sum(b.blob_bytes for b in res["built"])
                / sum(b.n_keys for b in res["built"]))
    if wl.name == "serve":
        s["build_keys_per_s"] = setup["build_keys_per_s"]
        filters = [wl.block, wl.sj_filter]
        s["bytes_per_key"] = [sum(b.blob_bytes for b in filters)
                              / sum(b.n_keys for b in filters)]
    return s


def layer_metrics(tracer, traced_rounds: list[dict]):
    """Per-layer values from the recorded spans: each metric is summed
    within one occasion (a traced round, or a setup rep for builds that
    only happen in set-up), then the median over the occasions where
    the layer ran; a layer idle on this workload reads 0. Also returns
    each traced round's span coverage and unattributed remainder."""
    per_occ: dict[str, dict] = {}
    for sp in tracer.spans:
        layer = sp.get("layer")
        if layer is None or "dur" not in sp:
            continue
        occ = per_occ.setdefault(sp["round"], {})
        occ[sp["name"]] = occ.get(sp["name"], 0.0) + sp["dur"]
        for k in ("jobs", "stages", "blob_bytes", "n_partials",
                  "broadcast_bytes"):
            if k in sp:
                occ[f"{layer}.{k}"] = occ.get(f"{layer}.{k}", 0) + sp[k]
    out: dict[str, list] = {}
    for occ in per_occ.values():
        for k, v in occ.items():
            out.setdefault(k, []).append(v)
    vals = {k: _med(v) for k, v in out.items()}
    per_round = []
    for r in traced_rounds:
        unattributed = tracer.self_time(r["span"])
        per_round.append({"round": tracer.spans[r["span"]]["round"],
                          "round_s": r["s"],
                          "unattributed_s": unattributed,
                          "coverage": 1 - unattributed / r["s"]})
    vals["trace.round_coverage"] = _med([p["coverage"] for p in per_round])
    vals["trace.unattributed_s"] = _med(
        [p["unattributed_s"] for p in per_round])
    return vals, per_round


def run(args) -> dict:
    from pyspark.sql import functions as F

    from perfbench.harness import (ShmLedger, Tracer, median_q,
                                   start_session, stop_session)
    from perfbench.inputs import keyed, probe_frame
    from perfbench.kernels import (arrow_noop_pass_s, kernel_ns_per_key,
                                   sentinel_ns_per_key)
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work_dir, exist_ok=True)
    cfg = dict(CONFIG[args.workload], parts=nproc,
               forest_shards=2 * nproc)
    shm = ShmLedger()
    box_start = sentinel_ns_per_key()
    spark, session_s = start_session(nproc, work_dir)
    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, cfg)
    shm_files = shm_bytes = persisted = 0
    try:
        t0 = time.perf_counter()
        setup = wl.setup()
        tracer.count_jobs()
        tracer.enabled = False
        fixed_s = time.perf_counter() - t0

        rid, warm = 0, []
        t_warm = time.perf_counter()
        while True:
            with tracer.round(rid, traced=False) as rec:
                res = wl.round(rid)
            wl.after_round(res, False)
            warm.append(rec["dur"])
            rid += 1
            level = (len(warm) >= 2 and abs(warm[-1] - warm[-2])
                     <= WARMUP_TOL * warm[-2])
            if level or (len(warm) >= 2 and time.perf_counter() - t_warm
                         >= WARMUP_CAP_S):
                break
        warmup_s = time.perf_counter() - t_warm

        measured, traced_rounds = [], []
        t_meas = time.perf_counter()
        i = 0
        # the traced run alternates untraced and traced rounds and
        # needs one of each
        need = 1 if args.trace else MIN_ROUNDS
        while (time.perf_counter() - t_meas < args.seconds
               or len(measured) < need
               or (args.trace and not traced_rounds)):
            traced = bool(args.trace) and i % 2 == 1
            with tracer.round(rid, traced=traced) as rec:
                res = wl.round(rid)
            wl.after_round(res, traced)
            entry = {"s": rec["dur"], "res": res, "span": rec["idx"]}
            (traced_rounds if traced else measured).append(entry)
            rid += 1
            i += 1
        measure_s = time.perf_counter() - t_meas

        extra: dict[str, float] = {}
        if args.trace:
            # run the traced-only step twice and record the second, so
            # its figures are not those of a code path's first use
            wl.traced_extra(rid)
            tracer.enabled, tracer.round_id = True, "extra"
            first = len(tracer.spans)
            wl.traced_extra(rid + 1)
            tracer.enabled = False
            tracer.count_jobs(first)
            n = cfg["keys"]["block"]
            keys = keyed(spark, args.seed, "derive", 0, n, nproc)
            samples = []
            for _ in range(3):
                t = time.perf_counter()
                keys.agg(F.bit_xor("key")).first()
                samples.append(time.perf_counter() - t)
            extra["spark.keys.derive_s"] = _med(samples)
            if args.workload == "serve":
                frame = wl.frame
            else:
                half = cfg["probe_keys"] // 2
                frame = probe_frame(
                    keyed(spark, args.seed, "noop", 0, half, nproc),
                    keyed(spark, args.seed, "noop-absent", 0, half, nproc))
            extra["arrow.noop_pass_s"] = arrow_noop_pass_s(frame)
            extra.update(kernel_ns_per_key(args.seed, KERNEL_KEYS))
        wl.unpersist_all()
        persisted = len(sc._jsc.getPersistentRDDs())
        slots = sc.defaultParallelism
    finally:
        created = shm.created()
        shm_files, shm_bytes = len(created), sum(created.values())
        shm.remove_created()
        stop_session(spark)
    box_end = sentinel_ns_per_key()

    e2e = e2e_samples(wl, measured, setup)
    setup_s = session_s + fixed_s + warmup_s
    stats = {k: median_q(v) for k, v in e2e.items()}
    stats["setup_s"] = median_q([setup_s])
    ops_failed = wl.failed / max(1, wl.attempted)
    common = {
        "box.sentinel_start_ns_per_key": box_start,
        "box.sentinel_end_ns_per_key": box_end,
        "box.warmup_rounds": len(warm),
        "leak.shm_files": shm_files, "leak.shm_bytes": shm_bytes,
        "leak.persisted_rdds": persisted,
        "tasks.failed": tracer.failed_tasks,
        "ops_failed": ops_failed,
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "closed_loop": "one driver thread, next call after the last returns",
        "nproc": nproc, "spark_slots": slots,
        "versions": versions(),
        "config": cfg,
        "setup": {"session_s": session_s, "fixed_s": fixed_s,
                  "warmup_s": warmup_s,
                  "warmup_rounds": [round(w, 4) for w in warm],
                  "warmup_levelled": level,
                  **setup},
        "measure_s": measure_s,
        "stats": stats, "quality": wl.quality, "counters": common,
        "failures": wl.failures,
    }
    if args.trace:
        vals, record["trace_rounds"] = layer_metrics(tracer, traced_rounds)
        vals.update(extra)
        vals.update(common)
        for kind, q in wl.quality.items():
            vals[f"fpp.{kind}"] = q["fpp"]
            vals[f"fpp_ratio.{kind}"] = q["ratio"]
            vals[f"bytes_per_key.{kind}"] = q["bytes_per_key"]
        vals.update(wl.layer_extras(traced_rounds))
        vals["trace.overhead_s"] = (
            _med([r["s"] for r in traced_rounds])
            - _med([r["s"] for r in measured]))
        units = per_layer_units()
        metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
        spans_path = os.path.join(
            work_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans, fh)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = {k: {"value": stats[k]["median"], "unit": u}
                   for k, u in END_TO_END.items()}
    return {"record": record,
            "result": {"correct": wl.failed == 0,
                       "attempted": wl.attempted, "failed": wl.failed,
                       "metrics": metrics}}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a plain SIGTERM would skip the finally that stops Spark and
    # removes this run's /dev/shm files
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if not os.path.isdir(os.path.join(ROOT, "libfilter_spark")):
        print(f"perfbench: no libfilter_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    knobs = sorted(k for k in os.environ if k.startswith("LIBFILTER_"))
    if knobs:
        print("perfbench measures library defaults only; unset "
              + ", ".join(knobs), file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    out = run(args)
    print(json.dumps({"record": out["record"]}, default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
