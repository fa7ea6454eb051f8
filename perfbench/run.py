"""Indexer benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Generates a seeded chain, drives the indexer through its public entry
points, checks the committed state against an independent oracle and
prints every metric with its unit. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics (spans are then written to
``.perfbench_results/trace-<workload>-<seed>.jsonl``).

All scratch state (inputs, stores, checkpoints, Spark local dirs and
warehouse) lives under ``.perfbench_work/`` in the checkout and is
removed at exit. Workload parameters are in ``workloads.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 170  # the run must end within 180 s


def host_env(work: str, driver_mem: str) -> None:
    """Fit Spark to this host and keep its files inside ``work``. Set
    before pyspark starts the JVM."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            # keep every job's status, so per-epoch job counts are exact
            "--conf spark.ui.retainedJobs=100000",
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "pyspark-shell",
        ]
    )


def kill_tree() -> None:
    """SIGKILL every process this one started (directly or not) and wait
    until each has ended."""
    from tracing import descendants

    pids = descendants(os.getpid())
    for pid in reversed(pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                if os.waitpid(pid, os.WNOHANG) != (0, 0):
                    break
            except ChildProcessError:  # not our child: poll until it is gone
                if not os.path.exists(f"/proc/{pid}"):
                    break
            time.sleep(0.02)


def watchdog() -> None:
    print(f"perfbench: no result within {WATCHDOG_S}s, aborting", file=sys.stderr, flush=True)
    kill_tree()
    os._exit(3)


_T0 = time.monotonic()


def phase(name: str) -> None:
    print(f"phase {name} done at {time.monotonic() - _T0:.1f}s", file=sys.stderr, flush=True)


def ms(seconds_list) -> list[float]:
    return [1000.0 * s for s in seconds_list]


def end_to_end(res) -> dict:
    from tracing import median

    return {
        "setup_s": (median(res.setup_s), "s"),
        "ops_per_s": (res.ops_done / res.ops_wall, "1/s"),
        "op_latency_p50_ms": (median(ms(res.ops_lat)), "ms"),
    }


def printed_only(res, mismatch: int, rss_kb: int) -> dict:
    from tracing import median, tail

    def tail_ms(name, seconds_list) -> dict:
        q, value = tail(ms(seconds_list))
        return {f"{name}_p{q}_ms": (value, "ms")}

    led = res.ledger
    out = {
        **tail_ms("op_latency", res.ops_lat),
        "op_samples": (len(res.ops_lat), "count"),
        "peak_rss_mb": (rss_kb / 1024.0, "MB"),
        "blocks_per_s": (led.blocks_committed / max(led.last_publish - res.t0, 1e-9), "1/s"),
        "commit_latency_p50_ms": (median(ms(led.commit_lat)), "ms"),
        **tail_ms("commit_latency", led.commit_lat),
        "commit_samples": (len(led.commit_lat), "count"),
        "failed_ops_frac": (res.failed / max(res.attempted, 1), "1"),
        "oracle_mismatch_rows": (mismatch, "rows"),
    }
    if led.rollback_lat:
        out["rollback_latency_p50_ms"] = (median(ms(led.rollback_lat)), "ms")
        out["rollback_samples"] = (len(led.rollback_lat), "count")
    if res.reads:
        lat = [x for v in res.reads.values() for x in v]
        out["read_latency_p50_ms"] = (median(ms(lat)), "ms")
        out.update(tail_ms("read_latency", lat))
        out["reads_per_s"] = (res.ops_done / res.ops_wall, "1/s")
        out["read_samples"] = (len(lat), "count")
    return out


def per_layer(res, tracer, shape: dict) -> dict:
    import workloads as wl
    from tracing import median

    def p50(name):
        return median(ms(tracer.durations(name)))

    c = tracer.counts
    out = {}
    for name in ("block_tests", "transaction_tests", "utxos_by_address", "balance_by_address"):
        out[f"reducers.{name}.apply_ms_p50"] = (p50(f"reducers.{name}.apply"), "ms")
    epochs = sum(s.epochs for s in res.driver_stats)
    plan_s = sum(sum(s.reducer_seconds.values()) for s in res.driver_stats)
    progress = wl.batches(res.progress)
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    add = [p["durationMs"]["addBatch"] for p in progress]
    out.update(
        {
            "store.rows_written": (c["store.rows_written"], "rows"),
            "store.commit_ms_p50": (p50("store.commit"), "ms"),
            "store.commits": (c["store.commits"], "count"),
            "store.files_written": (c["store.files_written"], "count"),
            "driver.epochs": (epochs, "count"),
            "driver.plan_s": (plan_s, "s"),
            "driver.self_s": (tracer.self_times().get("driver.run", 0.0), "s"),
            "store.current_manifest_ms_p50": (p50("store.current_manifest"), "ms"),
            "store.manifest_files": (shape["manifest_files"], "count"),
            "store.manifest_bytes": (shape["manifest_bytes"], "bytes"),
            "streaming.triggers": (len(progress), "count"),
            "streaming.trigger_ms_p50": (median(trig), "ms"),
            "streaming.add_batch_ms_p50": (median(add), "ms"),
            "streaming.overhead_ms_p50": (median([t - a for t, a in zip(trig, add)]), "ms"),
            "store.retract_commit_ms_p50": (p50("store.retract_commit"), "ms"),
            "store.groups_rewritten": (c["store.groups_rewritten"], "count"),
            "store.read_table_ms_p50": (p50("store.read_table"), "ms"),
            "store.groups_per_table_max": (shape["groups_per_table_max"], "count"),
            "serve.balance_ms_p50": (p50("serve.balance"), "ms"),
            "serve.utxo_probe_ms_p50": (p50("serve.utxo_probe"), "ms"),
            "serve.unspent_ms_p50": (p50("serve.unspent"), "ms"),
            "spark.jobs_per_epoch": (res.jobs / max(epochs, 1), "1"),
            "sources.generator_late_ms_max": (1000.0 * res.late_max, "ms"),
            "sources.backlog_blocks_max": (res.backlog_max, "count"),
            "trace.spans": (len(tracer.spans), "count"),
            "trace.bookkeeping_ms": (1000.0 * tracer.book_s, "ms"),
        }
    )
    return out


def show(metrics: dict) -> None:
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value:.6g} {unit}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    params = cfg["workloads"][args.workload]
    host = cfg["host"]

    sys.path.insert(0, ROOT)
    try:
        import argus_spark  # noqa: F401  the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the indexer from {ROOT}: {e}", file=sys.stderr)
        return 2

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host_env(work, host["driver_mem"])
    try:
        return run(args, cfg, params, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args, cfg, params, work) -> int:
    import chain_gen
    import tracing
    import workloads as wl

    gen = cfg["generator"]
    chain = chain_gen.generate(gen, wl.blocks_needed(params, args.seconds), args.seed)
    chain_gen.self_check(chain)
    blocks_path = os.path.join(work, "blocks.parquet")
    watched_path = os.path.join(work, "watched.parquet")
    chain_gen.write_inputs(chain, blocks_path, watched_path)
    print(f"inputs {chain_gen.digest(blocks_path, watched_path)[:16]} "
          f"blocks={chain.n_blocks} txs={len(chain.tx_hashes)}", flush=True)
    phase("inputs")

    from pyspark import SparkContext

    from argus_spark.session import get_spark
    from argus_spark.sources.chain_feed import read_blocks

    rss = tracing.RssSampler().start()
    spark = get_spark("perfbench")
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    tracer = tracing.Tracer(bool(args.trace))
    try:
        watched = spark.read.parquet(watched_path).cache()
        watched.count()
        ctx = wl.Ctx(
            spark=spark, chain=chain, params=params, gen=gen, seconds=args.seconds,
            seed=args.seed, tracer=tracer, work=work,
            blocks_df=read_blocks(spark, blocks_path), watched_df=watched,
        )
        phase("session")
        res = wl.WORKLOADS[args.workload](ctx)
        phase("workload")
        mismatch = wl.verify(ctx, res)
        phase("verify")
        shape = wl.store_shape(res.store)
    finally:
        spark.stop()
        if gateway_proc is not None:
            SparkContext._gateway.shutdown()
            gateway_proc.stdin.close()
            try:
                gateway_proc.wait(timeout=30)
            except Exception:
                gateway_proc.kill()
                gateway_proc.wait()
        kill_tree()
        rss.stop()
        phase("stop")

    for e in res.errors:
        print(f"error {e}", file=sys.stderr)
    e2e = end_to_end(res)
    show(e2e)
    show(printed_only(res, mismatch, rss.peak_kb))
    print(f"valid {str(res.valid).lower()}" + (f" ({res.invalid_reason})" if not res.valid else ""))
    # a run whose open-loop schedule slipped measured a different load, so
    # it is reported as not correct, like a wrong result
    correct = mismatch == 0 and res.read_mismatches == 0 and res.valid
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    last = os.path.join(results, f"untraced-{args.workload}-{args.seed}.json")
    if args.trace:
        metrics = per_layer(res, tracer, shape)
        show(metrics)
        layers: dict[str, float] = {}
        for name, secs in sorted(tracer.self_times().items()):
            print(f"self_time {name} {secs:.4f} s")
            layers[name.split(".")[0]] = layers.get(name.split(".")[0], 0.0) + secs
        for layer, secs in sorted(layers.items()):
            print(f"self_time_layer {layer} {secs:.4f} s")
        tracer.dump(os.path.join(results, f"trace-{args.workload}-{args.seed}.jsonl"))
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
            for name, (value, unit) in e2e.items():
                if name not in base:  # not reported when that run was saved
                    continue
                print(f"tracing_overhead {name} {value - base[name]:+.6g} {unit}"
                      f" (traced {value:.6g} - untraced {base[name]:.6g})")
        else:
            print("tracing_overhead: run the same workload and seed with --trace 0 first")
    else:
        metrics = e2e
        with open(last, "w") as fh:
            json.dump({k: v for k, (v, _u) in e2e.items()}, fh)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
