"""Benchmark entry point.

    python3 perfbench/run.py --workload audio_batch --seed 1 --seconds 10 --trace 0

Runs one workload at the pinned deployment (local[4], 3g driver), checks
its outputs against planted truth, and prints as the last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it (``perfbench-run {...}``) records the
settings, versions, calibration and per-round figures. A traced run
also writes its spans to ``.bench_work/out/<workload>-seed<n>.trace.json``.
Exits non-zero when a check fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import harness as H  # noqa: E402

sys.path.insert(1, str(H.ROOT))

PIPELINE_STAGES = ["signatures", "exact_edges", "verified_pairs", "cc_fixpoint",
                   "components", "survivors", "clusters"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def end_to_end(rounds, setup_cpu_s: float, speed: float) -> dict:
    """Gated metrics. Costs are CPU seconds, not wall: on a shared VM
    the hypervisor's steal stretches wall time by run (measured: 10-15%
    steal turned 6.0-6.4 s rounds into 8.2-9.0 s), while CPU time only
    counts time this VM's processes ran. They are then scaled to the
    reference speed by ``speed`` (reference probe CPU / probe CPU now),
    because the CPU time of fixed work drifts too. Raw times stay in the
    record."""
    cpu = H.median([r.cpu_s for r in rounds]) * speed
    return {
        "setup_s": (setup_cpu_s * speed, "s"),
        "ref_cpu_s": (cpu, "s"),
        "records_per_ref_cpu_s": (rounds[0].records / cpu, "1/s"),
        "dup_pair_recall": (min(r.recall for r in rounds), "ratio"),
        "dup_pair_precision": (min(r.precision for r in rounds), "ratio"),
    }


def differing_outputs(rounds) -> list[str]:
    """The output positions at which rounds' fingerprints disagree. A
    round over a prefix of the input has fewer positions; it is compared
    on those it has."""
    out = []
    for j in range(max(len(r.prints) for r in rounds)):
        seen = {tuple(r.prints[j]) for r in rounds if j < len(r.prints)}
        if len(seen) > 1:
            out.append(f"output {j} differs across rounds: {sorted(seen)}")
    return out


def per_layer(tr, ref, traced, session_s: float, peak_rss_b: int) -> dict:
    """Per-layer metrics of the traced rounds, averaged per round. A
    layer the workload never calls reads 0."""
    n = len(traced)
    last = traced[-1].layers

    def span_s(prefix, key=None):
        return tr.total(prefix, key) / n

    def spark_s(key):
        return tr.spark_total(key) / n

    m = {f"pipeline.{s}_s": (ref.layers.get(f"pipeline.{s}_s", 0.0), "s") for s in PIPELINE_STAGES}
    pairs_in, pairs_out = last.get("verify.pairs_in", 0), last.get("verify.pairs_out", 0)
    task_med = tr.spark_total("task_median_s")
    m.update({
        "session.start_s": (session_s, "s"),
        "mem.peak_rss_mb": (peak_rss_b / 2 ** 20, "MB"),
        "audio.simhash_s": (span_s("functions.audio"), "s"),
        "audio.python_s": (span_s("functions.audio", "python_run_s"), "s"),
        "audio.payload_bytes": (span_s("functions.audio", "input_bytes"), "bytes"),
        "minhash.sign_s": (span_s("functions.minhash"), "s"),
        "minhash.python_s": (span_s("functions.minhash", "python_run_s")
                             + span_s("operators.incremental", "python_run_s"), "s"),
        "spark.python_init_s": (spark_s("python_init_s"), "s"),
        "exact.edges_s": (span_s("operators.exact_dedup"), "s"),
        "exact.edges": (last.get("exact.edges", 0), "count"),
        "lsh.candidates_s": (span_s("operators.lsh"), "s"),
        "lsh.candidates": (last.get("lsh.candidates", 0), "count"),
        "lsh.n_star_buckets": (last.get("lsh.n_star_buckets", 0), "count"),
        "lsh.pairs_not_enumerated": (last.get("lsh.pairs_not_enumerated", 0), "count"),
        "lsh.shuffle_bytes": (span_s("operators.lsh", "shuffle_write_bytes"), "bytes"),
        "verify.jaccard_s": (span_s("operators.verify.jaccard"), "s"),
        "verify.hamming_s": (span_s("operators.verify.hamming"), "s"),
        "verify.containment_s": (span_s("operators.verify.containment"), "s"),
        "verify.pairs_in": (pairs_in, "count"),
        "verify.pairs_out": (pairs_out, "count"),
        "verify.yield": (pairs_out / pairs_in if pairs_in else 0.0, "ratio"),
        "verify.shuffle_bytes": (span_s("operators.verify", "shuffle_write_bytes"), "bytes"),
        "cc.s": (span_s("operators.components.cc"), "s"),
        "cc.edges": (last.get("cc.edges", 0), "count"),
        "cc.iterations": (last.get("cc.iterations", 0), "count"),
        "cc.assign_s": (span_s("operators.components.assign"), "s"),
        "survivors.s": (span_s("operators.survivors"), "s"),
        "warehouse.commit_s": (spark_s("commit_s"), "s"),
        "warehouse.bytes_written": (spark_s("bytes_written"), "bytes"),
        "warehouse.files_written": (spark_s("files_written"), "count"),
        "warehouse.load_s": (span_s("sources.warehouse.load"), "s"),
        "incremental.probe_s": (span_s("operators.incremental.probe"), "s"),
        "incremental.append_s": (span_s("operators.incremental.append"), "s"),
        "incremental.increments_read": (last.get("incremental.increments_read", 0), "count"),
        "strategies.released_frames": (last.get("strategies.released_frames", 0), "count"),
        "stream.trigger_ms_p50": (last.get("stream.trigger_ms_p50", 0.0), "ms"),
        "stream.add_batch_ms_p50": (last.get("stream.add_batch_ms_p50", 0.0), "ms"),
        "stream.commit_ms_p50": (last.get("stream.commit_ms_p50", 0.0), "ms"),
        "stream.state_rows": (last.get("stream.state_rows", 0), "count"),
        "stream.state_memory_bytes": (last.get("stream.state_memory_bytes", 0), "bytes"),
        "stream.extra_pairs": (last.get("stream.extra_pairs", 0), "count"),
        "spark.shuffle_write_bytes": (spark_s("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (spark_s("spill_bytes"), "bytes"),
        "spark.task_s_max_over_median": (
            tr.spark_total("task_max_s") / task_med if task_med else 1.0, "ratio"),
        "wall.round_s": (ref.wall_s, "s"),
        "wall.records_per_s": (ref.records / ref.wall_s, "1/s"),
        "wall.batch_s_p50": (H.median(ref.batch_s), "s"),
        "trace.overhead_ratio": (H.median([r.wall_s for r in traced]) / ref.wall_s, "ratio"),
    })
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench",
                    help="input size; smoke is the smallest that runs every layer")
    args = ap.parse_args(argv)
    if importlib.util.find_spec(H.PACKAGE) is None:
        log(f"package {H.PACKAGE} not found next to the benchmark; nothing to run")
        return 2
    spec_file = H.ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        log("BENCHMARK.json not found at the checkout root")
        return 2
    spec = json.loads(spec_file.read_text())

    # every process the run starts is adopted and reaped before it exits
    H.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_setup, c_setup = time.monotonic(), time.process_time()
    work = H.WORK_ROOT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    settings = H.pin_environment(work)
    spark = None
    try:
        import workloads as W  # after pinning: imports pyspark

        if args.workload not in W.WORKLOADS:
            log(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
            return 2
        with H.RssSampler() as rss:
            t0 = time.monotonic()
            spark = H.start_spark(f"perfbench-{args.workload}", work)
            session_s = time.monotonic() - t0
            wl = W.WORKLOADS[args.workload](spark, work, args.seed, W.I.SIZES[args.size])
            t1 = time.monotonic()
            wl.setup()
            t2 = time.monotonic()
            warm = wl.warm()
            setup_s = time.monotonic() - t_setup
            # the driver process generates inputs; the JVM and its workers
            # start, sign the index and run the warm-up
            setup_cpu_s = time.process_time() - c_setup + H.tree_cpu_s()
            phases = {"session_s": session_s, "inputs_s": t2 - t1,
                      "warm_s": time.monotonic() - t2}
            log(f"{args.workload}: set-up {setup_s:.2f} s {phases}")
            probes = [H.speed_probe_cpu_s()]
            steal0, total0 = H.cpu_ticks()
            deadline = time.monotonic() + args.seconds
            if args.trace:
                from spans import Tracer

                tr = Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}")
                ref = wl.round(0)
                rounds, traced = [ref], []
                while not traced or time.monotonic() < deadline:
                    traced.append(wl.traced_round(len(traced) + 1, tr))
                rounds += traced
            else:
                rounds = []
                while not rounds or time.monotonic() < deadline:
                    rounds.append(wl.round(len(rounds)))
            steal1, total1 = H.cpu_ticks()
            probes.append(H.speed_probe_cpu_s())
            speed = H.REF_PROBE_CPU_S / (sum(probes) / len(probes))
            # determinism: every round, the warm-up included, ran on the
            # same input (or a prefix of it) and must leave the same outputs
            for msg in differing_outputs([warm] + rounds):
                rounds[-1].fail(msg)
            for i, r in [("warm", warm)] + list(enumerate(rounds)):
                log(f"round {i}: {r.wall_s:.3f} s cpu {r.cpu_s:.3f} s recall {r.recall:.4f} "
                    f"precision {r.precision:.4f} {'; '.join(r.errors)}")
            if args.trace:
                tr.self_times()
                tr.attach_spark_metrics(spark)
            calibration = None
            if args.trace:
                from bench import run_calibration  # the repository's sha2 probe

                calibration = run_calibration(spark)
        if args.trace:
            metrics = per_layer(tr, ref, traced, session_s, rss.peak_bytes)
            names = [d["name"] for d in spec["per_layer"]]
        else:
            metrics = end_to_end(rounds, setup_cpu_s, speed)
            names = [d["name"] for d in spec["end_to_end"]]
        checked = [warm] + rounds
        attempted = sum(r.ops for r in checked)
        failed = sum(r.failed_ops or (1 if r.errors else 0) for r in checked)
        batches = [b for r in rounds for b in r.batch_s]
        tail_s, tail_pct, tail_n = H.tail(batches)
        wall = H.median([r.wall_s for r in rounds])
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "settings": settings,
            "setup_phases": phases,
            "versions": H.run_record(), "calibration_s": calibration,
            "records_unit": wl.unit,
            "inputs": wl.info, "failed_ratio": failed / attempted,
            "wall_s": wall, "records_per_s": rounds[0].records / wall,
            "batch_s_p50": H.median(batches), "batch_s_tail": tail_s,
            "batch_s_tail_percentile": tail_pct, "batch_s_samples": tail_n,
            "peak_rss_mb": rss.peak_bytes / 2 ** 20,
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "speed_probe_cpu_s": probes, "speed": speed,
            "setup_wall_s": setup_s, "setup_cpu_s": setup_cpu_s,
            "cpu_s": H.median([r.cpu_s for r in rounds]),
            "rounds": [{"round": i, "wall_s": r.wall_s, "cpu_s": r.cpu_s, "batch_s": r.batch_s,
                        "ops": r.ops, "errors": r.errors, "prints": r.prints,
                        "layers": r.layers}
                       for i, r in [("warm", warm)] + list(enumerate(rounds))],
        }
        if args.trace:
            H.OUT_DIR.mkdir(parents=True, exist_ok=True)
            out = H.OUT_DIR / f"{args.workload}-seed{args.seed}.trace.json"
            table = tr.layer_table()
            out.write_text(json.dumps({
                **record, "untraced_wall_s": ref.wall_s,
                "traced_wall_s": [r.wall_s for r in traced],
                "self_time_by_layer": table, "spans": tr.spans,
                "per_layer": {k: v for k, (v, _) in metrics.items()},
            }, indent=1, default=str))
            record["trace_file"] = str(out.relative_to(H.ROOT))
            log(f"{'layer':32s} {'calls':>5s} {'self s':>8s} {'share':>6s}")
            for row in table:
                log(f"{row['layer']:32s} {row['calls']:5d} {row['self_s']:8.3f} "
                    f"{row['self_share']:6.1%}")
        print("perfbench-run " + json.dumps(record, default=str))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names},
        }), flush=True)
        return 0 if failed == 0 else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            signalled = H.stop_descendants()
            if signalled:
                log(f"signalled processes left after the run: {signalled}")
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it (the
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
