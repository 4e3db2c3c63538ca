"""Scaling-efficiency bench: BASELINE.json's "throughput scaling
efficiency ≥ 0.8 between N and 4N executors", sandbox proxy. The
identical job on the identical input at local[small] and local[large];
efficiency = (throughput_large / throughput_small) / (large / small).

Two workloads:

* **full** — ``run_pipeline`` (audio decode + langid + perplexity +
  scrub over Arrow, salted dedup, rules) → decisions, noop write. Every
  audio payload crosses the JVM→Python boundary, so on a single-bus VM
  this saturates DRAM bandwidth before it runs out of cores: the proxy
  under-reports what 4× executors (4× memory buses) would show.
* **text** — ``pipeline.enrich_text`` (the text-scoring stage) only, noop
  write: pure compute over Arrow batches, no payload column. The stage
  whose scaling a single-bus VM measures faithfully.

Corpus: the deterministic sf0.1 clips corpus replicated ``--replicas``
times with remapped clip_ids (heavy duplicate skew by construction, so
the salted two-phase SHA-1 dedup runs in its design regime), written as
128 parquet files so scan parallelism is file-granular.

On the shared 32-vCPU VM of the r05 runs, load bursts swung any single
leg ±30%, and multi-core legs degraded 2× while single-core legs did
not. So:

* each leg runs in a fresh interpreter and JVM (a spawned process);
  timing excludes session start and Python-worker warmup;
* legs alternate small/large, so the two legs of a pair see the same
  host mode;
* before every leg a 4-process numpy probe records its dilation (4-proc
  per-proc rate vs 1-proc rate, ideal 1.0), and ``/proc/stat`` stamps
  the leg's steal fraction and busy cores. A pair is clean when both
  legs' dilation is ≤ CLEAN_DILATION; the headline is the median
  efficiency over clean pairs (every pair is kept in the JSON).

Usage:
  python tools/bench_scaling.py [--pairs 7] [--text-pairs 3]
      [--small 1 --large 4] [--replicas 96] [--clean-target 0]
      [--tag r05] [--wait-quiet MIN]
``--wait-quiet MIN`` polls the probe every QUIET_POLL_SEC and starts
after two consecutive reads below QUIET_DILATION; if no such window
comes within MIN minutes it prints WAITED_OUT and exits 0, so an
unattended run never records a knowingly dirty measurement.

Writes BENCH/scaling_pairs_<tag>.json. BENCH/BASELINE.md is curated by
hand from these files.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CLEAN_DILATION = 1.35
QUIET_DILATION = 1.25
QUIET_POLL_SEC = 300.0
LEG_TIMEOUT_SEC = 3600


def _spawn(target, *args):
    """Run ``target(*args)`` in a fresh interpreter (spawn context, so a
    fresh JVM too) and return its result."""
    ctx = mp.get_context("spawn")
    recv, send = ctx.Pipe(duplex=False)
    proc = ctx.Process(target=_send_result, args=(send, target, *args))
    proc.start()
    send.close()
    try:
        if not recv.poll(LEG_TIMEOUT_SEC):
            proc.terminate()
            raise RuntimeError(f"{target.__name__}{args} timed out")
        try:
            return recv.recv()
        except EOFError:
            proc.join()
            raise RuntimeError(
                f"{target.__name__}{args} died (exit {proc.exitcode})"
            ) from None
    finally:
        proc.join()


def _send_result(conn, target, *args) -> None:
    conn.send(target(*args))
    conn.close()


def _write_corpus(replicas: int, path: str) -> None:
    from pyspark.sql import functions as F

    from data_quality_checker_spark.queries import _clips_path
    from data_quality_checker_spark.session import get_spark

    spark = get_spark(app_name="dqc-scale-corpus", master="local[8]")
    base = spark.read.parquet(_clips_path("sf0.1"))
    df = base.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("_r00")))
    for i in range(1, replicas):
        df = df.unionByName(
            base.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit(f"_r{i:02d}")))
        )
    df.repartition(128).write.parquet(path)
    spark.stop()


def build_corpus(replicas: int) -> str:
    from data_quality_checker_spark.queries import _publish

    return _publish(
        f"/tmp/dqc_scale_corpus_r{replicas}.parquet",
        lambda tmp: _spawn(_write_corpus, replicas, tmp),
        marker="_SUCCESS",
    )


def warm_cache(path: str) -> None:
    subprocess.run(f"cat {path}/* > /dev/null 2>&1", shell=True)


def _leg(corpus: str, cores: int, workload: str) -> dict:
    """One timed leg → {"rows", "seconds"}. The warmup materializes the
    UDF outputs (under a bare count() Catalyst prunes deterministic
    pandas UDFs out of the plan) and the timed run writes to the noop
    sink for the same reason."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")  # 4N concurrent payload tasks

    from data_quality_checker_spark.pipeline import enrich_text, run_pipeline
    from data_quality_checker_spark.session import get_spark

    spark = get_spark(
        app_name=f"dqc-scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 2,
        # file-granular parallelism: every core gets several input splits
        extra_conf={"spark.sql.files.maxPartitionBytes": "128m"},
    )
    clips = spark.read.parquet(corpus)
    run_pipeline(spark, clips.limit(32 * cores).repartition(cores)).decisions.collect()
    spark.catalog.clearCache()

    t0 = time.time()
    out = enrich_text(clips) if workload == "text" else run_pipeline(spark, clips).decisions
    out.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    n = clips.count()
    spark.stop()
    return {"rows": n, "seconds": round(dt, 3)}


def _cpu_stat() -> tuple[float, float]:
    """(busy, steal) jiffies from /proc/stat — busy = user+nice+system."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = [float(x) for x in f[1:9]]
    return vals[0] + vals[1] + vals[2], vals[7]


def run_leg(corpus: str, cores: int, workload: str) -> dict:
    """``_leg`` in a fresh process, stamped with what the host did during
    it: steal_frac = Δsteal/(Δbusy+Δsteal) from /proc/stat (a shared
    VM's steal spikes under sustained multi-core load, throttling large legs
    while leaving single-core legs untouched), and busy_cores = Δbusy
    jiffies / wall / USER_HZ, the host's actual concurrency grant over
    the leg (it tells "granted 4 cores but starved of bandwidth" from
    "never granted the cores"). Wall includes JVM startup, so busy_cores
    slightly understates the grant during the timed section."""
    b0, s0 = _cpu_stat()
    t0 = time.time()
    r = _spawn(_leg, corpus, cores, workload)
    wall = time.time() - t0
    b1, s1 = _cpu_stat()
    db, dst = b1 - b0, s1 - s0
    r["rows_per_sec"] = round(r["rows"] / r["seconds"], 1)
    r["steal_frac"] = round(dst / (db + dst), 3) if (db + dst) > 0 else 0.0
    r["busy_cores"] = round(db / wall / os.sysconf("SC_CLK_TCK"), 2) if wall > 0 else None
    return r


def _probe_work(_i: int) -> float:
    """~1.2 s of sustained float32 dot work (compute + 48 MB of memory
    traffic per pass — past LLC, so bandwidth participates). Timed
    INTERNALLY and returned as a rate (iters/sec) so pool fork/start
    overhead never contaminates the measurement."""
    import numpy as np

    a = np.ones(12_000_000, dtype=np.float32)
    t0 = time.time()
    s, it = 0.0, 0
    while time.time() - t0 < 1.2:
        s += float(a @ a)
        it += 1
    return it / (time.time() - t0)


def host_probe(procs: int = 4) -> dict:
    """Dilation of `procs` concurrent sustained workers vs one:
    single-proc rate / mean concurrent per-proc rate. 1.0 = host grants
    full concurrency; bad windows measured 1.5-3×. The pool forks: the
    parent runs no JVM or threads (corpus build and legs are spawned),
    and forked workers start their timed windows together."""
    r1 = _probe_work(0)
    with mp.get_context("fork").Pool(procs) as pool:
        rates = pool.map(_probe_work, range(procs))
    return {"calib_1p_rate": round(r1, 2),
            "calib_4p_rates": [round(r, 2) for r in rates],
            "dilation": round(r1 / (sum(rates) / len(rates)), 3)}


def wait_quiet(max_wait_min: float) -> bool:
    """True once two consecutive probes read below QUIET_DILATION;
    False if ``max_wait_min`` passes first."""
    deadline = time.time() + max_wait_min * 60.0
    consecutive = 0
    while time.time() < deadline:
        d = host_probe()["dilation"]
        print(f"probe dilation={d:.3f} (clean<{QUIET_DILATION})", flush=True)
        consecutive = consecutive + 1 if d < QUIET_DILATION else 0
        if consecutive >= 2:
            return True
        time.sleep(max(0.0, min(QUIET_POLL_SEC, deadline - time.time())))
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=7)
    ap.add_argument("--text-pairs", type=int, default=3)
    ap.add_argument("--small", type=int, default=1)
    ap.add_argument("--large", type=int, default=4)
    ap.add_argument("--replicas", type=int, default=96)
    ap.add_argument("--clean-target", type=int, default=0,
                    help="stop a workload early once this many clean pairs "
                         "exist (0 = run all pairs)")
    ap.add_argument("--tag", default="r05")
    ap.add_argument("--wait-quiet", type=float, default=None, metavar="MIN",
                    help="start only after two consecutive clean host probes; "
                         "give up after MIN minutes")
    args = ap.parse_args()

    corpus = build_corpus(args.replicas)
    warm_cache(corpus)
    if args.wait_quiet is not None and not wait_quiet(args.wait_quiet):
        print("WAITED_OUT — no quiet window; nothing run", flush=True)
        return 0
    factor = args.large / args.small

    out = {
        "corpus": corpus,
        "small": args.small,
        "large": args.large,
        "scaling_factor": factor,
        "clean_dilation_threshold": CLEAN_DILATION,
        "pairs": {"full": [], "text": []},
    }
    for workload, n_pairs in (("full", args.pairs), ("text", args.text_pairs)):
        clean = 0
        for i in range(n_pairs):
            cal_s = host_probe()
            r_s = run_leg(corpus, args.small, workload)
            cal_l = host_probe()
            r_l = run_leg(corpus, args.large, workload)
            eff = (r_l["rows_per_sec"] / r_s["rows_per_sec"]) / factor
            out.setdefault(f"{workload}_rows", r_s["rows"])
            is_clean = (cal_s["dilation"] <= CLEAN_DILATION
                        and cal_l["dilation"] <= CLEAN_DILATION)
            # host-normalized: the large leg can capture at most
            # large/dilation effective cores — eff × dilation isolates the
            # pipeline's software scaling from the host's concurrency
            # grant at that moment (disclosed alongside raw, never
            # substituted for it)
            pair = {
                "pair": i + 1,
                "small_sec": r_s["seconds"],
                "large_sec": r_l["seconds"],
                "small_rps": r_s["rows_per_sec"],
                "large_rps": r_l["rows_per_sec"],
                "efficiency": round(eff, 3),
                "efficiency_host_normalized": round(eff * cal_l["dilation"], 3),
                "steal_small": r_s["steal_frac"],
                "steal_large": r_l["steal_frac"],
                "busy_cores_small": r_s["busy_cores"],
                "busy_cores_large": r_l["busy_cores"],
                "calib_small": cal_s,
                "calib_large": cal_l,
                "clean_host": is_clean,
            }
            out["pairs"][workload].append(pair)
            print(json.dumps({"workload": workload, **pair}), flush=True)
            clean += int(is_clean)
            if args.clean_target and clean >= args.clean_target:
                break
        ps = out["pairs"][workload]
        if not ps:  # a workload run with 0 pairs has no summary
            continue
        effs = [p["efficiency"] for p in ps]
        ceffs = [p["efficiency"] for p in ps if p["clean_host"]]
        neffs = [p["efficiency_host_normalized"] for p in ps]
        out[f"{workload}_median_eff"] = round(statistics.median(effs), 3)
        out[f"{workload}_mean_eff"] = round(statistics.mean(effs), 3)
        out[f"{workload}_median_eff_host_normalized"] = round(
            statistics.median(neffs), 3)
        if ceffs:
            out[f"{workload}_clean_median_eff"] = round(statistics.median(ceffs), 3)
            out[f"{workload}_clean_pairs"] = len(ceffs)

    path = os.path.join(REPO, "BENCH", f"scaling_pairs_{args.tag}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps({k: v for k, v in out.items() if k != "pairs"}))
    print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
