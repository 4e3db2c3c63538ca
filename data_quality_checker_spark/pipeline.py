"""Pipeline assembly — one stage graph from clips to decisions.

``stage_graph`` builds it; ``run_pipeline`` (in-session), ``run/job.run_job``
(spark-submit job with lineage/resume), the streaming tick
(``streaming/incremental.process_and_write``) and
``run/rescore.write_metrics`` all call it. Shape (scale rationale inline):

  clips ──(scan A: clip_id+bytes → sha1, JVM only)──► hashed (slim, CACHED,
        │                                              full input)
        ├─(scan B: transcript cols of the SCOPE rows → langid/ppl/scrub)──► text
        └─(scan C: bytes of REPRESENTATIVE scope rows → audio-stats UDF)──►
                                                        stats (per distinct key)
  hashed ──► KEEPERS (sha → keeper clip_id)                    ─┐
  text ⋈ hashed (sha) ⋈ stats (key) ⋈ keepers (sha) ──► rules ──┴─► decisions

The callers differ in three inputs only:
  * scope — the rows to decide: every row (pipeline, tick, write_metrics)
    or the job's remaining lineage buckets on resume;
  * keepers — ``keepers_by_sha`` over ``hashed`` (pipeline, job: the
    full input, so a resumed bucket's duplicate still loses to a keeper
    in a completed bucket), or the tick's SHA-registry keepers plus the
    batch's new ones;
  * with_fingerprints — the content-dedup tick decodes fingerprints in
    the same pass as the audio stats.

Why this shape survives 100 TB:
  * the heavy ``bytes`` column is scanned exactly twice (sha pass +
    representative pass) and NEVER shuffled, never cached, and crosses
    the JVM→Python Arrow boundary only for one representative per
    distinct (sha, codec, sr_hz) key — on a dedup-heavy corpus the
    Python-side decode work shrinks by the duplication factor, and even
    on a dup-free corpus nothing is decoded twice;
  * the text-scoring pass reads NO payload bytes (column pruning keeps
    the scan slim) — it is pure compute and scales linearly with cores
    (measured 0.98 scaling efficiency 1→4 cores,
    BENCH/scaling_pairs_r05_runK.json);
  * ``hashed`` is a few dozen bytes/row — cacheable at any scale — and
    feeds every consumer that needs (clip_id → sha): dedup keepers, the
    representative selection, the text join, lineage bucketing;
  * the representative broadcast is size-gated: the cache fill's row
    count bounds the number of representatives, and only above
    ``REPS_BROADCAST_MAX`` does a probe decide (shuffled semi join).

The reference runs ~10 sequential full scans over one in-memory frame
(src/core/validator.py:62-82); here Catalyst fuses every rule into one
whole-stage-codegen pass over the joined slim frames.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .config import DEFAULT_CONFIG, PipelineConfig
from .functions.udfs import get_udfs
from .operators import metrics as metrics_ops
from .operators.dedup import flag_duplicates, keepers_by_sha, sha1_expr
from .operators.outliers import iqr_bounds
from .operators.rules import build_rules, keep_expr, rules_fired_expr, severity_map_expr


def hashed_frame(clips: DataFrame) -> DataFrame:
    """Scan A → (clip_id, sha, codec, sr_hz): the ONLY full sha1 pass
    over the payload. Slim enough to cache at any corpus scale; every
    sha consumer (dedup keepers, stats reps, text join) reuses it."""
    return clips.select(
        "clip_id", sha1_expr("bytes").alias("sha"), "codec", "sr_hz"
    )


def enrich_text(clips: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Scan B: text UDF pass over every clip — langid + perplexity +
    scrub. Reads NO payload bytes (sha joins in from ``hashed_frame``),
    so only transcript columns ride the Arrow batches: compute-bound,
    scales linearly with cores."""
    udfs = get_udfs()
    return clips.select(
        "clip_id",
        "sr_hz",
        "dur_ms",
        "codec",
        "transcript",
        udfs["langid"](F.col("transcript")).alias("langid"),
        udfs["perplexity"](F.col("transcript")).alias("ppl"),
        udfs["scrub"](F.col("transcript")).alias("scrub"),
    )


# Above this many representative keys, the reps side stops being
# broadcastable (~30 B/row → ~30 MB at the threshold; executors would
# each hold the whole table) and the semi join flips to a shuffled plan.
REPS_BROADCAST_MAX = 1_000_000


def audio_stats_table(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    hashed: DataFrame,
    broadcast_reps: bool | None = None,
    with_fingerprints: bool = False,
) -> DataFrame:
    """Scan C → (sha, codec, sr_hz, audio struct): decoded stats per
    DISTINCT payload-decode key of the ``hashed`` rows.

    Audio stats are a pure function of (bytes, codec, sr_hz), and a
    dedup-heavy corpus repeats payloads — so decode each distinct key
    ONCE (representative = min clip_id) and join the slim stats table
    back by key. Payload bytes cross the JVM→Python boundary only for
    representatives; duplicates cost one join probe, not a decode.

    Plan shape: reps is a tiny (key → rep clip_id) aggregate over the
    slim ``hashed`` frame (bytes never shuffle); representative rows are
    selected with a LEFT SEMI join on clip_id.

    ``broadcast_reps`` — SIZE-GATED, not unconditional: on a dup-free
    10^12-clip corpus reps has one row per distinct payload — billions
    of rows, not broadcastable. None (default) runs a short-circuiting
    probe over the reps aggregate and broadcasts only under
    REPS_BROADCAST_MAX; above it, the hint is omitted and the semi join
    plans as a shuffle on clip_id — and when the corpus table is
    bucketed by clip_id (run/layout.write_bucketed, the sandbox analog
    of the BASELINE ``bucket(N, clip_id)`` Iceberg DDL), the payload
    side of that shuffle is pre-placed: only the slim reps side moves
    (tests/test_bucketed_layout.py::test_stats_reps_join_paths). Pass a
    CACHED ``hashed`` so the probe reads the slim cache, not the
    payload; ``stage_graph`` skips the probe when its cache-fill count
    already bounds the reps under the threshold.

    ``with_fingerprints`` — compute the Philips content fingerprint
    (operators/audiofp) in the SAME decode pass and emit it alongside:
    output gains ``rep_id`` (the representative clip_id), ``n_subfp``
    and ``fp`` top-level columns while ``audio`` keeps its exact
    AUDIO_STATS_SCHEMA shape, so every stats consumer is unchanged and
    the content-dedup tier reads its fingerprints from here instead of
    paying a second full payload decode.
    """
    udfs = get_udfs()
    reps = (
        hashed.where(F.col("sha").isNotNull())
        .groupBy("sha", "codec", "sr_hz")
        .agg(F.min("clip_id").alias("rep_id"))
    )
    if broadcast_reps is None:
        # short-circuiting probe, not a full count (the same discipline
        # as simdedup's size guard): CollectLimit stops the reduce side
        # after MAX+1 groups, so on the 10^12-row corpus the gate itself
        # never materializes the full reps aggregate it is guarding
        # against broadcasting
        probe = reps.select("rep_id").limit(REPS_BROADCAST_MAX + 1).count()
        broadcast_reps = probe <= REPS_BROADCAST_MAX
    rep_ids = reps.select("rep_id")
    if broadcast_reps:
        rep_ids = F.broadcast(rep_ids)
    rep_rows = clips.where(F.col("bytes").isNotNull()).join(
        rep_ids,
        F.col("clip_id") == F.col("rep_id"),
        "left_semi",
    )
    if not with_fingerprints:
        return rep_rows.select(
            sha1_expr("bytes").alias("sha"),
            "codec",
            "sr_hz",
            udfs["audio_stats"](F.col("bytes"), F.col("codec"), F.col("sr_hz")).alias("audio"),
        )
    return (
        rep_rows.select(
            sha1_expr("bytes").alias("sha"),
            "codec",
            "sr_hz",
            F.col("clip_id").alias("rep_id"),
            udfs["audio_stats_fp"](
                F.col("bytes"), F.col("codec"), F.col("sr_hz")
            ).alias("_c"),
        ).select(
            "sha",
            "codec",
            "sr_hz",
            "rep_id",
            F.struct(
                "_c.n_samples",
                "_c.peak",
                "_c.rms",
                "_c.clip_ratio",
                "_c.decoded_ms",
                "_c.decode_ok",
            ).alias("audio"),
            F.col("_c.n_subfp").alias("n_subfp"),
            F.col("_c.fp").alias("fp"),
        )
    )


def enrich(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    hashed: DataFrame,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Full enrichment: text pass ⋈ hashed (sha) ⋈ per-distinct-payload
    audio stats.

    Output is a slim frame (no bytes) safe to persist/shuffle. The stats
    join is null-safe on (sha, codec, sr_hz) — null sr_hz is a real key
    value for headerless PCM. Rows with null bytes miss the join: their
    ``audio`` struct is null, which the rules treat as not-decoded.

    ``stats`` — a precomputed audio_stats_table frame (possibly the
    with_fingerprints=True variant; only (sha, codec, sr_hz, audio) are
    read); built from ``hashed`` when omitted.
    """
    text = enrich_text(clips, cfg)
    if stats is None:
        stats = audio_stats_table(clips, cfg, hashed=hashed)
    stats = stats.select("sha", "codec", "sr_hz", "audio")
    # both sides descend from `clips`, so raw df["col"] refs would carry
    # the SAME attribute id (Spark resolves them via dataset-id metadata
    # but warns "trivially true equals predicate") — explicit aliases
    # make the two sides unambiguous
    ws = text.join(hashed.select("clip_id", "sha"), "clip_id").alias("ws")
    st = stats.alias("st")
    cond = (
        (F.col("ws.sha") == F.col("st.sha"))
        & F.col("ws.codec").eqNullSafe(F.col("st.codec"))
        & F.col("ws.sr_hz").eqNullSafe(F.col("st.sr_hz"))
    )
    return ws.join(st, cond, "left").select(
        F.col("ws.clip_id"),
        F.col("ws.sr_hz"),
        F.col("ws.dur_ms"),
        F.col("ws.codec"),
        F.col("ws.transcript"),
        F.col("ws.sha"),
        F.col("st.audio"),
        F.col("ws.langid"),
        F.col("ws.ppl"),
        F.col("ws.scrub"),
    )


def decide(
    enriched: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    dur_bounds: tuple[float, float] | None = None,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Rules over the enriched frame → per-clip decisions.

    The duplicate flag comes from a frame already carrying
    ``is_duplicate`` (``stage_graph`` joins its keepers in), or else
    from keepers over ``hashed`` — a slim (clip_id, sha) frame, e.g. the
    cached sha pass or a metrics table's own columns (never the enriched
    frame: an unpersisted enriched lineage would re-run the Arrow UDF
    passes just to find keepers).
    """
    if "is_duplicate" not in enriched.columns:
        if hashed is None:
            raise ValueError("decide needs an is_duplicate column or hashed=")
        enriched = flag_duplicates(
            enriched, keepers_by_sha(hashed.select("clip_id", "sha"), cfg)
        )
    rules = build_rules(cfg, dur_bounds)
    return enriched.select(
        "clip_id",
        keep_expr(rules).alias("keep"),
        rules_fired_expr(rules).alias("rules_fired"),
        F.when(F.col("transcript").isNotNull(), F.col("scrub")["scrubbed"]).alias(
            "scrubbed_transcript"
        ),
        F.col("langid")["lang"].alias("lang"),
        F.col("langid")["conf"].alias("lang_conf"),
        F.col("ppl").alias("perplexity"),
        F.col("audio")["clip_ratio"].alias("clip_ratio"),
    )


@dataclass
class StageGraph:
    """One build of the stage graph. Every frame is lazy except
    ``hashed``, which is cached and filled; ``n_rows`` is that fill's
    count (the full input's rows). The caller owns the cache: call
    ``hashed.unpersist()`` once the consumers have run."""

    hashed: DataFrame
    n_rows: int
    stats: DataFrame
    enriched: DataFrame
    decisions: DataFrame


def stage_graph(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    dur_bounds: tuple[float, float] | None = None,
    scope: Column | None = None,
    keepers: Callable[[DataFrame], DataFrame] | None = None,
    with_fingerprints: bool = False,
) -> StageGraph:
    """Build hashed → keepers → enrichment → decode → decisions from the
    FULL input ``clips``.

    ``scope`` — a predicate over clip_id selecting the rows to decide
    (None: every row); the text pass and the representative decode see
    only those rows, while ``hashed`` and the keepers span the full input.
    ``keepers`` — maps the cached ``hashed`` frame to (sha,
    keeper_clip_id); default ``keepers_by_sha`` over it.
    ``with_fingerprints`` — the stats frame also carries the content
    fingerprints (see ``audio_stats_table``).

    The cache is filled EAGERLY: two consumers in one action would
    otherwise race to fill it and run the sha scan twice. The fill is a
    noop write that observes the row count — one Spark job, where
    ``count()`` over a cache runs three. That count bounds the
    representatives, so the reps broadcast gate needs no probe of its
    own under ``REPS_BROADCAST_MAX`` rows.
    """
    hashed = hashed_frame(clips).persist(StorageLevel.MEMORY_AND_DISK)
    fill = Observation()
    hashed.observe(fill, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    n_rows = fill.get["rows"]
    if keepers is None:
        keeper_rows = keepers_by_sha(hashed.select("clip_id", "sha"), cfg)
    else:
        keeper_rows = keepers(hashed)
    todo, todo_hashed = clips, hashed
    if scope is not None:
        todo, todo_hashed = clips.where(scope), hashed.where(scope)
    stats = audio_stats_table(
        todo,
        cfg,
        hashed=todo_hashed,
        broadcast_reps=True if n_rows <= REPS_BROADCAST_MAX else None,
        with_fingerprints=with_fingerprints,
    )
    enriched = enrich(todo, cfg, hashed=todo_hashed, stats=stats)
    decisions = decide(flag_duplicates(enriched, keeper_rows), cfg, dur_bounds)
    return StageGraph(hashed, n_rows, stats, enriched, decisions)


def findings_from_decisions(
    decisions: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    extra_severities: dict[str, str] | None = None,
) -> DataFrame:
    """Explode per-clip fired rules into the findings table (the issue-record
    analog, src/core/validator.py:20-45). ``extra_severities`` maps rules
    appended by post-passes outside the core rule set (e.g. the content
    dedup tier's ``content_duplicate``) to their severity. Keys shadowing
    a core rule are rejected up front: map_concat under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION`` would otherwise throw an
    opaque DUPLICATED_MAP_KEY mid-job — and silently "overriding" a core
    severity is not this parameter's contract."""
    rules = build_rules(cfg)
    sev = severity_map_expr(rules)
    if extra_severities:
        clash = sorted(set(extra_severities) & {r.name for r in rules})
        if clash:
            raise ValueError(
                f"extra_severities must not shadow core rules: {clash} "
                "(core severities come from the rule definitions; use "
                "PipelineConfig to change them)"
            )
        pairs: list = []
        for k, v in sorted(extra_severities.items()):
            pairs.extend([F.lit(k), F.lit(v)])
        sev = F.map_concat(sev, F.create_map(*pairs))
    return decisions.select(
        "clip_id", F.explode("rules_fired").alias("rule")
    ).withColumn("severity", F.element_at(sev, F.col("rule")))


@dataclass
class PipelineResult:
    decisions: DataFrame
    findings: DataFrame
    summary: DataFrame
    dur_bounds: tuple[float, float] | None
    column_findings: DataFrame | None = None


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    with_column_findings: bool = False,
) -> PipelineResult:
    """End-to-end in-session run (tests / entry point): the IQR fence over
    ``clips`` plus ``stage_graph`` over every row. The spark-submit job
    with lineage/resume (run/job.py) builds the same graph.

    ``with_column_findings`` triggers two extra eager aggregate passes
    (the reference's dataset-level issue records) — off by default.
    """
    # tiny pre-pass: exact IQR fence over dur_ms only (column-pruned scan)
    bounds = iqr_bounds(
        clips, "dur_ms", cfg.outlier_iqr_mult, cfg.outlier_min_rows
    )
    decisions = stage_graph(clips, cfg, bounds).decisions
    findings = findings_from_decisions(decisions, cfg)
    summ = metrics_ops.summary(findings)
    col_findings = (
        metrics_ops.column_findings(spark, clips, decisions, cfg)
        if with_column_findings
        else None
    )
    return PipelineResult(decisions, findings, summ, bounds, col_findings)
