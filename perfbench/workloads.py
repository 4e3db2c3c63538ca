"""The production workloads, each driven through the package's public
entry points: the batch job and the streaming tick. The rule re-score
runs in the batch job's traced run (``_probe_rescore``).

A workload has four phases, called in this order by ``run.py``:

* ``generate(seed)`` - load generator (untimed): writes the parquet inputs;
* ``stage(spark)`` - program state the timed ops need (part of setup_s);
* ``op(spark, i)`` - one timed operation, returns the clips it decided;
* ``check()`` - after timing: compares every op's output with the oracle.

The traced run also calls ``probes(spark, tracer)``: each lazy layer the
workload uses is materialised once on its own (noop write) under its own
span, which gives that layer's busy time.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import replace

import pandas as pd
import pyarrow.parquet as pq

from data_quality_checker_spark import pipeline
from data_quality_checker_spark.config import DEFAULT_CONFIG
from data_quality_checker_spark.operators import dedup, outliers
from data_quality_checker_spark.oracle.pandas_oracle import label_clips
from data_quality_checker_spark.run import job, rescore
from data_quality_checker_spark.streaming import incremental

import loadgen

# Rule-config deltas the re-score sweep cycles through: a threshold, the
# duration bounds, the sample-rate whitelist and a disabled rule.
RESCORE_DELTAS = (
    replace(DEFAULT_CONFIG, perplexity_max=30.0),
    replace(DEFAULT_CONFIG, dur_ms_min=600, dur_ms_max=20_000),
    replace(DEFAULT_CONFIG, sr_hz_whitelist=(16000, 22050, 44100, 48000)),
    replace(DEFAULT_CONFIG, disabled_rules=("wrong_language",)),
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _read_decisions(path: str) -> pd.DataFrame:
    df = pq.read_table(path).to_pandas()
    df["rules_fired"] = df["rules_fired"].map(lambda r: tuple(sorted(r)))
    return df


def _mismatches(path: str, want: pd.DataFrame) -> int:
    try:
        return mismatched_rows(_read_decisions(path), want)
    except (OSError, ValueError):
        return len(want)


def mismatched_rows(got: pd.DataFrame, want: pd.DataFrame, drop_rules=()) -> int:
    """Rows whose (keep, rules_fired, scrubbed_transcript) differ, plus
    clips present on one side only. ``drop_rules`` are left out of the
    rules comparison and, with them, of keep."""
    want = want.copy()
    want["rules_fired"] = want["rules_fired"].map(
        lambda r: tuple(sorted(x for x in r if x not in drop_rules))
    )
    got = got.copy()
    got["rules_fired"] = got["rules_fired"].map(
        lambda r: tuple(x for x in r if x not in drop_rules)
    )
    cols = ["rules_fired", "scrubbed_transcript"] + ([] if drop_rules else ["keep"])
    m = want[["clip_id"] + cols].merge(
        got[["clip_id"] + cols], on="clip_id", how="outer", suffixes=("_w", "_g"), indicator=True
    )
    bad = m["_merge"] != "both"
    for c in cols:
        w, g = m[f"{c}_w"], m[f"{c}_g"]
        bad |= ~((w == g) | (w.isna() & g.isna()))
    return int(bad.sum())


class Workload:
    name = ""

    def __init__(self, work: str):
        self.work = work
        self.outputs: list[str] = []
        self.op_failed: list[bool] = []
        self.max_ops: int | None = None
        self.raised = 0  # raised attempts that a replay recovered

    def out_bytes_per_clip(self) -> float:
        return sum(dir_bytes(p) for p in self.outputs) / max(self.clips_done(), 1)

    def clips_done(self) -> int:
        raise NotImplementedError


class JobMixed(Workload):
    """Cold ``run_job`` (fresh output dir each op) over a default-mix corpus.

    The lineage bucket count (resume granularity) is scaled with the
    corpus: the default 64 buckets would give ~9 clips per bucket and
    turn 600 clips into several hundred tiny files per table."""

    name = "job_mixed"
    CLIPS = 600
    CFG = replace(DEFAULT_CONFIG, n_lineage_buckets=8)

    def generate(self, seed: int) -> int:
        self.df = loadgen.clips(self.CLIPS, seed)
        self.input = os.path.join(self.work, "clips.parquet")
        loadgen.write_parquet(self.df, self.input)
        self.rescores: list = []
        return len(self.df)

    def stage(self, spark) -> None:
        # one untimed run pays the first-call costs (Python workers,
        # codegen, JIT); its output is discarded
        warm_out = os.path.join(self.work, "warm_out")
        job.run_job(spark, self.input, warm_out, "warm", self.CFG)
        shutil.rmtree(warm_out)

    def op(self, spark, i: int) -> int:
        out = os.path.join(self.work, f"job_{i:03d}")
        self.outputs.append(out)
        job.run_job(spark, self.input, out, "bench", self.CFG)
        return len(self.df)

    def clips_done(self) -> int:
        return len(self.df) * len(self.outputs)

    def check(self) -> int:
        want = label_clips(self.df)
        bad = 0
        for out in self.outputs:
            n = _mismatches(os.path.join(out, "decisions"), want)
            self.op_failed.append(n > 0)
            bad += n
        # the traced run's re-score sweep, each against the oracle under
        # the same config delta
        for out, cfg in self.rescores:
            bad += _mismatches(out, label_clips(self.df, cfg))
        return bad

    def probes(self, spark, tr) -> int:
        clips = spark.read.parquet(self.input)
        with tr.span("probe.iqr"):
            bounds = outliers.iqr_bounds(clips, "dur_ms")
        n_findings = _probe_enrichment(spark, tr, clips, bounds, findings=True)
        self.rescores = _probe_rescore(spark, tr, self.work, self.input, self.CFG)
        return n_findings


class StreamDupHeavy(Workload):
    """Micro-batch ticks through ``incremental.process_and_write`` over a
    stream where every distinct clip arrives 4-8 times under fresh ids.

    A tick that raises is counted and replayed with the same batch id, as
    a restarted query replays its last uncommitted batch from the
    checkpoint. Registry compaction fires once a bucket holds more than
    ``incremental.MAX_BUCKET_FILES`` (8) files, after the timed ticks of a
    short run, so the traced run keeps ticking until it does (``probes``).
    """

    name = "stream_dupheavy"
    DISTINCT = 400
    TICK_ROWS = 32
    WARM_TICKS = 1

    def generate(self, seed: int) -> int:
        ticks = loadgen.dup_stream(self.DISTINCT, self.TICK_ROWS, seed)
        self.ticks = loadgen.write_ticks(ticks, os.path.join(self.work, "ticks"))
        self.tick_rows = [len(t) for t in ticks]
        self.df = pd.concat(ticks, ignore_index=True)
        self.state = os.path.join(self.work, "state")
        self.out = os.path.join(self.work, "decisions")
        self.outputs = [self.state, self.out]
        self.max_ops = len(self.ticks) - self.WARM_TICKS
        self.done_ticks = 0
        self.registry_files_max = 0
        return len(self.df)

    def stage(self, spark) -> None:
        # the dur_outlier fence is whole-dataset state a stream is handed,
        # calibrated once on the stream's clips
        self.bounds = outliers.iqr_bounds(
            spark.read.parquet(os.path.dirname(self.ticks[0])), "dur_ms"
        )
        # the first tick starts the registry and pays the first-call costs
        # (Python workers, codegen, JIT)
        for k in range(self.WARM_TICKS):
            self._tick(spark, k)

    def _tick(self, spark, k: int) -> None:
        batch = spark.read.parquet(self.ticks[k])
        for attempt in range(2):
            try:
                incremental.process_and_write(
                    spark, batch, k, self.state, self.out, dur_bounds=self.bounds
                )
                break
            except Exception:  # noqa: BLE001 - a raising tick is counted, then replayed
                if attempt == 1:
                    raise
                self.raised += 1
        self.done_ticks = k + 1
        self.registry_files_max = max(self.registry_files_max, registry_files_max(self.state))

    def op(self, spark, i: int) -> int:
        self._tick(spark, i + self.WARM_TICKS)
        return self.tick_rows[i + self.WARM_TICKS]

    def clips_done(self) -> int:
        """Clips decided by the timed ticks (the warm-up ticks ran at set-up)."""
        return sum(self.tick_rows[self.WARM_TICKS : self.done_ticks])

    def out_bytes_per_clip(self) -> float:
        return sum(dir_bytes(p) for p in self.outputs) / sum(self.tick_rows[: self.done_ticks])

    def check(self) -> int:
        fed = self.df.iloc[: sum(self.tick_rows[: self.done_ticks])]
        try:
            got = _read_decisions(self.out)
        except (OSError, ValueError):
            return len(fed)
        bad = int(got["clip_id"].duplicated().sum())
        got = got.drop_duplicates("clip_id")
        # one keeper per sha: exactly one decided copy without `duplicate`
        sha = fed.set_index("clip_id")["bytes"].map(
            lambda b: None if b is None else hashlib.sha1(b).hexdigest()
        )
        g = got.assign(sha=got["clip_id"].map(sha))
        g = g[g["sha"].notna()]
        keepers = g[~g["rules_fired"].map(lambda r: "duplicate" in r)].groupby("sha").size()
        bad += int((keepers != 1).sum()) + len(set(g["sha"]) - set(keepers.index))
        # every other rule against the oracle over the whole stream
        want = label_clips(self.df)
        want = want[want["clip_id"].isin(fed["clip_id"])]
        bad += mismatched_rows(got, want, drop_rules=("duplicate",))
        self.op_failed = [bad > 0] * (self.done_ticks - self.WARM_TICKS)
        return bad

    def probes(self, spark, tr) -> int:
        # tick on until registry compaction has fired
        with tr.span("probe.compaction"):
            while self.done_ticks < len(self.ticks):
                before = bucket_dirs(self.state)
                self._tick(spark, self.done_ticks)
                if any(before.get(b, ino) != ino for b, ino in bucket_dirs(self.state).items()):
                    break
        batch = spark.read.parquet(self.ticks[0])
        return _probe_enrichment(spark, tr, batch, self.bounds, findings=False)


def bucket_dirs(state: str) -> dict[str, int]:
    """Registry bucket dir -> inode. Compaction swaps a rewritten dir in
    by rename, so a changed inode marks a compacted bucket."""
    reg = os.path.join(state, "sha_registry")
    return {b: os.stat(os.path.join(reg, b)).st_ino for b in os.listdir(reg) if b.startswith("sbkt=")}


def registry_files_max(state: str) -> int:
    reg = os.path.join(state, "sha_registry")
    if not os.path.isdir(reg):
        return 0
    return max(
        (
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(reg, b)))
            for b in os.listdir(reg)
            if b.startswith("sbkt=")
        ),
        default=0,
    )


def _probe_rescore(spark, tr, work: str, clips_path: str, cfg) -> list:
    """The re-score path on the workload's corpus: ``write_metrics`` once
    (bucketed like the job under ``cfg``), then ``rescore_decisions`` + a
    parquet write per config delta, each in a ``rescore.op`` span.
    Returns (output, config) pairs for the oracle check."""
    metrics = os.path.join(work, "metrics")
    with tr.span("probe.write_metrics"):
        rescore.write_metrics(spark, spark.read.parquet(clips_path), metrics, cfg)
    runs = [(os.path.join(work, f"rescore_{k}"), delta) for k, delta in enumerate(RESCORE_DELTAS)]
    for out, delta in runs:
        with tr.span("rescore.op"):
            rescore.rescore_decisions(spark.read.parquet(metrics), delta).write.parquet(out)
    return runs


def _probe_enrichment(spark, tr, clips, bounds, findings: bool) -> int:
    """Materialise each enrichment layer alone on ``clips``; returns the
    number of findings rows (0 when ``findings`` is false)."""
    n_findings = 0
    with tr.span("probe.sha"):
        _noop(pipeline.hashed_frame(clips))
    hashed = pipeline.hashed_frame(clips).persist()
    hashed.count()
    try:
        with tr.span("probe.text"):
            _noop(pipeline.enrich_text(clips))
        with tr.span("probe.decode"):
            _noop(pipeline.audio_stats_table(clips, hashed=hashed))
        with tr.span("probe.dedup"):
            _noop(dedup.keepers_by_sha(hashed.select("clip_id", "sha")))
        enriched = pipeline.enrich(clips, hashed=hashed).persist()
        enriched.count()
        try:
            decisions = pipeline.decide(enriched, DEFAULT_CONFIG, bounds, hashed=hashed)
            with tr.span("probe.rules"):
                _noop(decisions)
            if findings:
                decisions = decisions.persist()
                decisions.count()
                with tr.span("probe.findings"):
                    _noop(pipeline.findings_from_decisions(decisions))
                n_findings = pipeline.findings_from_decisions(decisions).count()
                decisions.unpersist()
        finally:
            enriched.unpersist()
    finally:
        hashed.unpersist()
    return n_findings


WORKLOADS = {w.name: w for w in (JobMixed, StreamDupHeavy)}
