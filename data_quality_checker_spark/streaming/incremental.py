"""Structured-Streaming ingest of the clips corpus — incremental quality
filtering with cross-batch duplicate state.

The reference is strictly batch (SURVEY §2.8); its nearest analog is the
append-only history + webhook push. The streaming shape that actually
matters for a 100 TB corpus is **incremental ingest**: new clip files
land continuously, each micro-batch must be scored once, and exact
dedup must hold ACROSS batches (a clip seen last week is still a
duplicate today).

Design — ``readStream`` file source → ``foreachBatch`` → the SAME stage
graph as the batch job (pipeline.stage_graph) + a persistent SHA registry:

* within a micro-batch: the salted keeper aggregation (operators/dedup);
* across batches: an append-only ``sha_registry`` parquet table of
  (sha, keeper_clip_id), **hash-partitioned into ``N_SHA_BUCKETS``
  buckets of sha** — a micro-batch reads ONLY the registry buckets its
  own shas hash into (partition pruning), so the per-batch registry read
  is bounded by batch size × registry density per bucket, not by total
  registry size (at 10^9 registered shas a batch touching 40 buckets
  reads ~40/256 of the table, and the bucket count can be raised);
  the registry keepers plus the batch's new keepers are the graph's
  keeper source;
* a new row is a duplicate if its sha is already registered
  (first-seen-batch wins; within the first batch, min clip_id wins —
  deterministic given ordered arrival).

State tables. ``sha_registry/sbkt=K`` here and the content tier's
``fp_tokens/tbkt=K`` and ``fp_store/cbkt=K`` (streaming/contentfp.py) are
each one ``StateTable``: a parquet dir under ``state_dir`` with a declared
schema, whose rows land in bucket ``bucket_of(key, n)``, n pinned per
state_dir (``pin_bucket_count``). All three share one protocol:

* ``StateTable.read`` — the pruned read of the buckets a batch can touch,
  under the declared schema (no footer job). A missing table dir is a
  fresh stream; a table dir without readable data raises, because
  reading it as empty would silently turn cross-batch dedup off. No
  commit creates a table with a zero-row append, so an existing table
  dir always holds data;
* ``StateTable.append`` — Spark writes the rows to a staging dir, then
  the part files are renamed into the bucket dirs, so no listing a
  running read already took changes under it;
* ``commit_batch`` — a tier's commit sequence: marker probe, appends
  (with an optional write alongside), marker, compaction;
* compaction: each append adds one file per touched bucket, so a hot
  bucket would accumulate O(B) small files over B batches — any bucket
  holding more than ``MAX_BUCKET_FILES`` parquet files is rewritten to a
  single file (tmp dir + two renames), and every read and append first
  sweeps the leftovers of an append or compaction cut short.

One tick (``process_and_write``) runs each stage once:

1. the stage graph's cache fill, the tick's only payload scan and only
   Python stage, observes the row count and the registry buckets the
   batch's shas hash into, in one noop pass; the graph's
   keepers are one aggregation over the batch's salted keeper candidates
   and the registry rows of those buckets, cut to the batch's shas and
   persisted, whose rows not registered yet are ``new``;
2. the decisions write (partitioned by batch_id, dynamic partition
   overwrite; JVM only, over the cache) and the registry append of
   ``new`` overlap on two threads;
   whichever runs first fills the keeper cache and the other reads it;
3. the per-batch marker ``registry_batches/{batch_id}.done``, once both
   writes succeeded;
4. compaction, which deletes registry files, so it follows every read of
   them.

With ``content_dedup`` the fingerprint tier runs its own ``commit_batch``
(marker dir ``fp_batches``) before step 2, after freezing its verdicts
(streaming/contentfp.py).

``foreachBatch`` is at-least-once, so every step is idempotent per
batch_id. A replay after a crash anywhere recomputes the decisions
deterministically: before the append the registry does not hold the
batch, after it the registry already holds the batch's own keepers, and
in both cases the keeper of every sha is unchanged, so the overwrite of
the decisions partition converges whichever write of step 2 finished
first. The append is gated on the marker (an O(1) existence probe — NOT
a collect of an ever-growing marker table); a replay between the append
and the marker finds its keepers registered and appends nothing, and a
replay whose marker exists still rewrites its decisions partition.

The global IQR duration fence is whole-dataset state and cannot be
"streamed" — it is calibrated once from a static sample (or a previous
batch run) and passed in; the dur_outlier flag is advisory (non-drop),
so keep/drop parity with the batch pipeline is exact.

The registry is a parquet table, not engine-managed state, so it
survives the loss of the stream checkpoint and can be queried (the
lineage-table philosophy of run/job.py).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from functools import partial
from typing import Callable, NamedTuple

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.dedup import keeper_candidates
from ..pipeline import stage_graph
from ..schema import CLIPS_SCHEMA

# Registry bucket fan-out UPPER BOUND. Sized so one bucket of a 10^9-sha
# registry is ~4M rows (~200 MB of sha+clip_id) — one comfortable scan
# task. The EFFECTIVE count is pinned per state_dir at first tick
# (pin_bucket_count): derived from the first micro-batch's size so a
# small stream doesn't pay a 256-dir append per tick (each partition dir
# in an append is one task-commit + parquet-writer init — measured 4–6 s
# per 256-dir write vs 0.7–0.9 s at 32 dirs on tiny ticks, a pure
# fixed cost that at production tick sizes amortizes into the data).
# Re-bucketing an existing registry = one rewrite of the table.
N_SHA_BUCKETS = 256

# Bucket-count derivation floor: even the smallest stream keeps enough
# fan-out for pruned reads to skip most of the registry.
MIN_REGISTRY_BUCKETS = 32

# Per-bucket parquet-file bound: each micro-batch appends one file set per
# touched bucket, so after B batches a hot bucket holds O(B) small files
# and the "pruned read" degrades into a small-file storm. Buckets
# exceeding this are rewritten (compacted) as part of the batch tick.
MAX_BUCKET_FILES = 8


def bucket_of(col: Column | str, n_buckets: int) -> Column:
    """The state-table bucket of a key: ``pmod(xxhash64(key), n)``."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class StateTable(NamedTuple):
    """One bucketed parquet table under ``state_dir``: rows land in
    ``name/part=K`` with K = bucket_of(key, n); ``schema`` is its declared
    DDL schema, partition column included. An append or a compaction in
    flight lives in ``.{tag}_append_tmp`` / ``.{tag}_compact_*`` dirs
    beside it."""

    name: str
    part: str
    tag: str
    key: str
    schema: str

    def path(self, state_dir: str) -> str:
        return os.path.join(state_dir, self.name)

    def read(
        self, spark: SparkSession, state_dir: str, buckets: list[int]
    ) -> DataFrame | None:
        """The table pruned to ``buckets`` (partition pruning bounds the
        scan), or None when no bucket is asked for or the stream has not
        created the table yet.

        The read carries the declared ``schema``, so it launches no footer
        job for schema inference. It stays loud: a table dir holding no
        ``part=`` bucket dir raises here, and a corrupt part file in a read
        bucket fails the scan — a table dir without readable data read as
        "nothing registered" would silently turn cross-batch dedup off.

        The fresh-stream probe is an ``os.path.exists`` check, not a
        try/except around the read: a parquet read of a missing path makes
        Spark's ResolveDataSource log a full FileNotFoundException stack
        trace at WARN before the Python exception even surfaces. State dirs
        are local filesystem by design here (same assumption as the
        os.rename append and compaction protocols)."""
        self.recover(state_dir)
        root = self.path(state_dir)
        if not buckets or not os.path.exists(root):
            return None
        if not any(name.startswith(f"{self.part}=") for name in os.listdir(root)):
            raise FileNotFoundError(
                f"state table {root} holds no {self.part}= bucket dir: "
                "no readable parquet data"
            )
        return spark.read.schema(self.schema).parquet(root).where(
            F.col(self.part).isin(*buckets)
        )

    def append(self, state_dir: str, rows: DataFrame, n_buckets: int) -> None:
        """Add ``rows`` to their buckets. Spark writes them to a staging dir
        beside the table and the part files are then renamed into the
        bucket dirs: a Spark write to the table path itself would refresh,
        in place, the file listing of every cached plan reading the table
        (the tick's persisted keepers), so a decisions write running
        alongside could see the batch's keepers both as registered and as
        new. A rename changes no listing already taken."""
        # repartition by the partition column: exactly ONE parquet file per
        # touched bucket per tick, whatever the upstream task count (W write
        # tasks would otherwise append up to W files per bucket per tick and
        # trip the compaction bound W× sooner — at cluster scale, every tick)
        stage = os.path.join(state_dir, f".{self.tag}_append_tmp")
        shutil.rmtree(stage, ignore_errors=True)
        rows.withColumn(self.part, bucket_of(self.key, n_buckets)).repartition(
            F.col(self.part)
        ).write.mode("overwrite").partitionBy(self.part).parquet(stage)
        root = self.path(state_dir)
        for bdir in os.listdir(stage):
            if not bdir.startswith(f"{self.part}="):
                continue
            os.makedirs(os.path.join(root, bdir), exist_ok=True)
            for f in os.listdir(os.path.join(stage, bdir)):
                os.rename(os.path.join(stage, bdir, f), os.path.join(root, bdir, f))
        shutil.rmtree(stage)

    def recover(self, state_dir: str) -> None:
        """Sweep leftovers of an interrupted append or compaction. An append
        cut short leaves its staging dir (deleted: the batch has no marker,
        so its replay appends what the registry still lacks). The compaction
        swap is write-tmp → rename(bucket→old) → rename(tmp→bucket) → delete
        old; a crash can only leave (a) a stale tmp dir (deleted), or
        (b) an ``old`` dir with the bucket dir missing (restored) / present
        (compaction completed, ``old`` deleted). Single-writer: one streaming
        query owns ``state_dir`` (enforced by the stream checkpoint)."""
        try:
            names = os.listdir(state_dir)
        except FileNotFoundError:
            return
        for name in names:
            full = os.path.join(state_dir, name)
            if name.startswith((f".{self.tag}_compact_tmp_", f".{self.tag}_append_tmp")):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(f".{self.tag}_compact_old_"):
                b = name.rsplit("_", 1)[1]
                bdir = os.path.join(self.path(state_dir), f"{self.part}={b}")
                if os.path.exists(bdir):
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    os.rename(full, bdir)

    def compact(self, spark: SparkSession, state_dir: str) -> None:
        """Rewrite every bucket holding more than ``MAX_BUCKET_FILES``
        parquet files down to one file, so per-batch pruned reads stay
        O(bucket bytes), not O(batches). The candidates are every existing
        bucket dir — an os.listdir each (microseconds), where collecting
        the buckets a tick touched costs a Spark job. Local-FS renames
        here; on HDFS/S3 the same sequence goes through the Hadoop
        FileSystem API (or the table graduates to Iceberg, whose rewrite
        action is this operation natively — see run/ddl.py)."""
        root = self.path(state_dir)
        flagged = [
            int(name.split("=", 1)[1])
            for name in os.listdir(root)
            if name.startswith(f"{self.part}=")
            and sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, name)))
            > MAX_BUCKET_FILES
        ]
        if not flagged:
            return
        # ONE Spark job rewrites every flagged bucket — the round-5 fixed-cost
        # fix: the previous per-bucket loop launched one read+coalesce+write
        # job PER bucket, and a tick whose appends pushed all 256 buckets of
        # both fingerprint tables over the bound paid a 512-job, ~65 s driver
        # storm. Partition pruning reads just the flagged dirs; the
        # repartition by the partition column lands each bucket in exactly
        # one task → one output file per bucket.
        #
        # The write materializes the full flagged read BEFORE any source dir
        # is touched. distinct(): a crash between a batch's table append and
        # its marker write makes the replay re-append identical rows —
        # downstream min/distinct keeps RESULTS correct, but without this the
        # bloat would survive every rewrite and grow per crash-replay.
        tmproot = os.path.join(state_dir, f".{self.tag}_compact_tmp_batch")
        shutil.rmtree(tmproot, ignore_errors=True)
        (
            spark.read.schema(self.schema)
            .parquet(root)
            .where(F.col(self.part).isin(*flagged))
            .distinct()
            .repartition(F.col(self.part))
            .write.mode("overwrite")
            .partitionBy(self.part)
            .parquet(tmproot)
        )
        # per-bucket swap, same crash protocol as before: a leftover tmp root
        # is swept by recover's .{tag}_compact_tmp_* rule; a mid-swap crash
        # leaves .{tag}_compact_old_{b} with the bucket dir missing
        # (restored) or present (completed, old deleted)
        for b in flagged:
            bdir = os.path.join(root, f"{self.part}={b}")
            tmp_b = os.path.join(tmproot, f"{self.part}={b}")
            if not os.path.exists(tmp_b):
                continue
            old = os.path.join(state_dir, f".{self.tag}_compact_old_{b}")
            shutil.rmtree(old, ignore_errors=True)
            os.rename(bdir, old)
            os.rename(tmp_b, bdir)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmproot, ignore_errors=True)


SHA_REGISTRY = StateTable(
    "sha_registry", "sbkt", "sha", "sha", "sha STRING, keeper_clip_id STRING, sbkt INT"
)


def commit_batch(
    spark: SparkSession,
    state_dir: str,
    markers: str,
    batch_id: int,
    n_buckets: int,
    appends: list[tuple[StateTable, DataFrame]],
    alongside: Callable[[], None] | None = None,
) -> None:
    """A tier's commit of one batch: the appends, then the marker
    ``state_dir/markers/{batch_id}.done``, then compaction of the appended
    tables. A batch whose marker exists (an O(1) probe — the batch count
    grows without bound, so collecting a marker table each tick would
    too) is committed already and appends nothing.

    ``alongside`` — a write that overlaps the appends and runs even when
    the batch is committed already (the tick's decisions write). The
    marker and the compaction wait for it: compaction deletes table files
    the write may still be reading, and a batch whose write failed stays
    uncommitted, so its replay redoes the whole commit.

    A caller never passes a zero-row append for a table that does not
    exist yet, so every table dir holds data from its first commit on.

    The writes target different paths, and an append publishes its files
    by rename (``StateTable.append``), so no write changes what another
    reads: every write after the first runs on its own thread. Each
    write's cost is dominated by the job-scheduling + parquet task-commit
    floor, and overlapping them turns fixed-cost SUM into fixed-cost MAX
    per tick. InheritableThread carries the caller's job description.
    Every write finishes before the first error is raised."""
    marker = os.path.join(state_dir, markers, f"{batch_id}.done")
    committed = os.path.exists(marker)
    writes = [] if alongside is None else [alongside]
    if not committed:
        writes += [partial(_append, state_dir, n_buckets, *a) for a in appends]
    errs: list[BaseException] = []

    def _run(write: Callable[[], None]) -> None:
        try:
            write()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errs.append(exc)

    threads = [InheritableThread(_run, args=(w,)) for w in writes[1:]]
    for th in threads:
        th.start()
    for w in writes[:1]:
        _run(w)
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    if committed:
        return
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w"):
        pass
    for table, _ in appends:
        table.compact(spark, state_dir)


def _append(state_dir: str, n_buckets: int, table: StateTable, rows: DataFrame) -> None:
    table.recover(state_dir)
    table.append(state_dir, rows, n_buckets)


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, "registry_meta.json")


def load_registry_meta(state_dir: str) -> dict:
    try:
        with open(_meta_path(state_dir)) as fh:
            return json.load(fh)
    except (FileNotFoundError, ValueError):
        return {}


_META_LOCK = threading.Lock()


def pin_bucket_count(
    state_dir: str, key: str, table: str, batch_rows, upper: int
) -> int:
    """Resolve the EFFECTIVE bucket count for one registry table and pin
    it in ``state_dir/registry_meta.json`` so every later tick (and any
    replay) agrees — bucket count is a property of the registry, like
    Iceberg's ``bucket(N, col)`` DDL, and changing it means rewriting
    the table.

    Resolution order: pinned meta value → legacy (table dir exists with
    no meta: it was written under the module global, pin that) → derived
    from the first batch's row count (``batch_rows`` is a thunk — only
    evaluated here, on the one tick per stream lifetime that actually
    derives): the next power of two of rows/64 clamped to
    [min(MIN_REGISTRY_BUCKETS, upper), upper], so a 500-clip sandbox tick
    gets 32 dirs per append while a 10^6-clip production tick gets the
    full ``upper`` fan-out.

    Single-writer ACROSS PROCESSES (the stream checkpoint enforces one
    owner per state_dir), but the sha and content tiers pin DIFFERENT
    keys into the same meta file, and a caller may pin them from two
    threads — the module lock makes the read-modify-write atomic within
    the process so neither thread's key is lost."""
    with _META_LOCK:
        meta = load_registry_meta(state_dir)
        if key in meta:
            return int(meta[key])
        if os.path.exists(os.path.join(state_dir, table)):
            n = upper
        else:
            rows = max(1, int(batch_rows() if callable(batch_rows) else batch_rows))
            n = 1 << max(0, (rows // 64) - 1).bit_length()
            n = max(min(MIN_REGISTRY_BUCKETS, upper), min(upper, n))
        meta[key] = n
        os.makedirs(state_dir, exist_ok=True)
        tmp = _meta_path(state_dir) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, _meta_path(state_dir))
        return n


class _RegistryTick:
    """One tick's side of the SHA registry. ``touched`` is the aggregate
    the stage graph's cache fill observes: the registry buckets the
    batch's shas hash into, under the bucket count pinned here (only the
    first tick of a state_dir counts the batch to derive it). ``keepers``
    is the graph's keeper source; it persists the keeper rows, so the
    decisions write and ``commit``'s append of ``new`` (the batch's own
    keepers not registered yet) share one computation. ``commit`` runs
    the registry's ``commit_batch`` with the decisions write alongside
    the append; ``unpersist`` releases the cache."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        batch_id: int,
        cfg: PipelineConfig,
        batch: DataFrame,
    ):
        self.spark, self.state_dir, self.batch_id, self.cfg = spark, state_dir, batch_id, cfg
        self.n_bkt = pin_bucket_count(
            state_dir, "n_sha_buckets", SHA_REGISTRY.name, batch.count, N_SHA_BUCKETS
        )
        self.touched = F.collect_set(
            F.when(F.col("sha").isNotNull(), bucket_of("sha", self.n_bkt))
        ).alias("sha_buckets")
        self.keeper_rows: DataFrame | None = None

    def keepers(self, cache: DataFrame, seen: dict) -> DataFrame:
        """(sha, keeper_clip_id) for the batch's shas: the registered
        keeper where the sha is registered (it belongs to an earlier
        batch — the local candidate loses), else the batch's own min
        clip_id. One aggregation over the salted candidates and the
        registry rows decides both, so the registry is scanned once and
        joined nowhere; it keeps the batch's shas only, so its cache grows
        with the batch, not the registry, and also yields ``new``."""
        # empty for a batch of only null-payload clips: it reads nothing
        # and registers nothing
        self.buckets = sorted(seen["sha_buckets"])
        registered = SHA_REGISTRY.read(self.spark, self.state_dir, self.buckets)

        def candidate(rows: DataFrame, new: bool, id_col: str) -> DataFrame:
            # (new, id) order: new=false sorts first, so a registered keeper wins
            k = F.struct(F.lit(new).alias("new"), F.col(id_col).alias("id"))
            return rows.select("sha", k.alias("k"))

        local = keeper_candidates(cache.select("clip_id", "sha"), self.cfg)
        cands = candidate(local, True, "_local_min")
        if registered is not None:
            cands = cands.unionByName(candidate(registered, False, "keeper_clip_id"))
        self.keeper_rows = (
            cands.groupBy("sha")
            .agg(F.min("k").alias("k"), F.max("k.new").alias("local"))
            .where("local")
            .select("sha", F.col("k.id").alias("keeper_clip_id"), F.col("k.new").alias("new"))
            .persist()
        )
        self.new = self.keeper_rows.where(F.col("new")).drop("new")
        return self.keeper_rows.drop("new")

    def commit(self, write_decisions: Callable[[], None]) -> None:
        """The registry's ``commit_batch`` with the decisions write
        alongside the append."""
        commit_batch(
            self.spark,
            self.state_dir,
            "registry_batches",
            self.batch_id,
            self.n_bkt,
            [(SHA_REGISTRY, self.new)] if self.buckets else [],
            alongside=write_decisions,
        )

    def unpersist(self) -> None:
        if self.keeper_rows is not None:
            self.keeper_rows.unpersist()


def process_and_write(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    output_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    dur_bounds: tuple[float, float] | None = None,
    content_dedup: bool = False,
) -> None:
    """One foreachBatch tick: pipeline.stage_graph over the batch with the
    SHA registry as keeper source, then the commit sequence of the module
    docstring. The decisions land partitioned by batch_id with dynamic
    partition overwrite, so an at-least-once replay of a micro-batch
    replaces its own partition instead of appending duplicates.

    ``content_dedup=True`` additionally probes/updates the cross-batch
    fingerprint registry (streaming/contentfp.py): clips whose CONTENT
    matches any earlier batch's keeper (or a within-batch cluster
    keeper) flip to keep=false with ``content_duplicate`` appended, by
    the same audiofp.apply_content_verdicts fold as the batch post-pass
    audiofp.content_dedup_decisions. The graph's one payload pass emits
    the fingerprints too (with_fingerprints), and its cache feeds the
    content tier's key map. Both registries commit through
    ``commit_batch``, so replays converge.

    CRITICAL: the overwrite mode must be set on the session that executes
    the WRITE. Inside foreachBatch that is the micro-batch's cloned
    session (``batch_df.sparkSession``), which snapshots conf at stream
    start — setting it only on the outer session leaves the clone in
    STATIC overwrite mode and every batch then truncates all previous
    batches' output (found via a 24-file multi-batch run; single-batch
    tests could not see it)."""
    for sess in {spark, batch_df.sparkSession}:
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    registry = _RegistryTick(spark, state_dir, batch_id, cfg, batch_df)
    owned: list[DataFrame] = []
    try:
        graph = stage_graph(
            batch_df,
            cfg,
            dur_bounds,
            keepers=registry.keepers,
            observe=[registry.touched],
            with_fingerprints=content_dedup,
        )
        owned.append(graph.cache)
        decisions = graph.decisions
        if content_dedup:
            from ..operators.audiofp import apply_content_verdicts
            from .contentfp import process_content_increment

            # the per-key fingerprints feed the probe, the within-batch
            # pairing and the registration of the content tier
            stats = graph.stats.persist()
            owned.append(stats)
            stats.count()
            flags = process_content_increment(spark, graph, state_dir, batch_id)
            owned.append(flags)
            decisions = apply_content_verdicts(decisions, flags)
        out = decisions.withColumn("batch_id", F.lit(batch_id))
        registry.commit(
            lambda: out.write.mode("overwrite").partitionBy("batch_id").parquet(output_dir)
        )
    finally:
        registry.unpersist()
        for df in owned:
            df.unpersist()


def stream_quality_filter(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    dur_bounds: tuple[float, float] | None = None,
    available_now: bool = True,
    content_dedup: bool = False,
    max_files_per_trigger: int = 8,
):
    """File-source streaming job: every parquet file landing in
    ``input_dir`` is scored exactly once; decisions append to
    ``output_dir`` (one partition per micro-batch). Returns the
    StreamingQuery. ``content_dedup`` adds the cross-batch fingerprint
    tier (see process_and_write). ``max_files_per_trigger`` sizes the
    micro-batch (per-tick planning overhead amortizes over bigger
    triggers; 8 matches the bench corpora's file granularity)."""
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def _process(batch_df: DataFrame, batch_id: int):
        process_and_write(
            spark,
            batch_df,
            batch_id,
            state_dir,
            output_dir,
            cfg,
            dur_bounds,
            content_dedup=content_dedup,
        )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
