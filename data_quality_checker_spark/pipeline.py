"""Pipeline assembly — one stage graph from clips to decisions.

``stage_graph`` builds it; ``run_pipeline`` (in-session), ``run/job.run_job``
(spark-submit job with lineage/resume), the streaming tick
(``streaming/incremental.process_and_write``), the content-dedup tick
and ``run/rescore.write_metrics`` all call it. Shape (scale rationale
inline):

  clips ──(ONE scan: sha1(bytes) in the JVM; text + decode UDFs of the
        │  SCOPE rows in one Arrow stage)──► cache (no bytes, CACHED,
        │                                      full input)
  cache ──► KEEPERS (sha → keeper clip_id)            ─┐
  cache[scope] = enriched ⋈ keepers (sha) ──► rules ───┴─► decisions

The callers differ in four inputs only:
  * scope — the rows to decide: every row (pipeline, tick, write_metrics)
    or the job's remaining lineage buckets on resume;
  * the IQR fence — the full input's, observed on the cache fill
    (pipeline, job), or handed in (the tick's stream fence);
  * keepers — ``keepers_by_sha`` over the cache (pipeline, job: the
    full input, so a resumed bucket's duplicate still loses to a keeper
    in a completed bucket), or the tick's SHA-registry keepers plus the
    batch's new ones;
  * with_fingerprints — the content-dedup tick decodes fingerprints in
    the same pass as the audio stats, and reads them per distinct
    payload from a JVM aggregate over the cache.

Why this shape survives 100 TB:
  * the heavy ``bytes`` column is scanned exactly once and NEVER
    shuffled and never cached: the scan hashes it in the JVM and hands
    the scope rows' payloads to the decode UDF in the same stage, so
    the payload crosses the JVM→Python Arrow boundary once per scope
    row. Decoding is per row: a byte-identical duplicate is decoded
    again instead of joined to one representative's stats, which costs
    the duplication factor in decode work on a dedup-heavy corpus and
    saves a second read of the whole payload column on every corpus;
  * it is the only Python stage: every Python-UDF task pays a fixed
    worker start (Spark's worker re-reads its zip archives on each
    task) before its first batch, so one Arrow stage pays it once per
    task instead of once per UDF pass;
  * the cache holds the scores, the transcript and the audio stats — a
    few hundred bytes per row with no payload, MEMORY_AND_DISK — and
    feeds every consumer: dedup keepers, the enriched frame, lineage
    bucketing. Everything after the fill (keepers, rules, writes) runs
    in the JVM over it, with no join back to the input.

The reference runs ~10 sequential full scans over one in-memory frame
(src/core/validator.py:62-82); here Catalyst fuses every rule into one
whole-stage-codegen pass over the cached slim frame.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .config import DEFAULT_CONFIG, PipelineConfig
from .functions.udfs import get_udfs
from .operators import metrics as metrics_ops
from .operators.dedup import flag_duplicates, keepers_by_sha, sha1_expr
from .operators.outliers import fence, iqr_aggs
from .operators.rules import build_rules, keep_expr, rules_fired_expr, severity_map_expr
from .schema import AUDIO_STATS_SCHEMA


def hashed_frame(clips: DataFrame) -> DataFrame:
    """(clip_id, sha, codec, sr_hz, dur_ms): the sha1 pass over the
    payload on its own, slim enough to cache at any corpus scale — the
    decode-key map of ``audio_stats_table`` and the fingerprint tier.
    The stage graph computes ``sha`` inside its one payload pass."""
    return clips.select(
        "clip_id", sha1_expr("bytes").alias("sha"), "codec", "sr_hz", "dur_ms"
    )


def _text_columns(transcript: Column) -> list[Column]:
    """The text UDFs over ``transcript``: langid, perplexity, scrub."""
    udfs = get_udfs()
    return [
        udfs["langid"](transcript).alias("langid"),
        udfs["perplexity"](transcript).alias("ppl"),
        udfs["scrub"](transcript).alias("scrub"),
    ]


def enrich_text(clips: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Text UDF pass over every clip — langid + perplexity + scrub. Reads
    NO payload bytes, so only transcript columns ride the Arrow batches.
    The stage graph runs the same columns inside its one payload pass."""
    return clips.select(
        "clip_id", "sr_hz", "dur_ms", "codec", "transcript",
        *_text_columns(F.col("transcript")),
    )


def _decode_column(payload: Column, with_fingerprints: bool) -> Column:
    """The decode UDF over (``payload``, codec, sr_hz) as ``_c``: the audio
    stats, plus ``n_subfp`` and ``fp`` with the content fingerprint."""
    udf = get_udfs()["audio_stats_fp" if with_fingerprints else "audio_stats"]
    return udf(payload, F.col("codec"), F.col("sr_hz")).alias("_c")


def _audio_columns(with_fingerprints: bool) -> list[Column]:
    """``audio`` (AUDIO_STATS_SCHEMA), plus ``n_subfp`` and ``fp`` with
    the fingerprint, in place of the ``_decode_column`` of a frame that
    also carries ``sha``. A row without a payload (null sha) gets a null
    ``audio``, which the rules treat as not decoded."""
    c = F.col("_c")
    audio = c
    if with_fingerprints:
        audio = F.struct(*(c[f.name].alias(f.name) for f in AUDIO_STATS_SCHEMA.fields))
    cols = [F.when(F.col("sha").isNotNull(), audio).alias("audio")]
    if with_fingerprints:
        cols += [c["n_subfp"].alias("n_subfp"), c["fp"].alias("fp")]
    return cols


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
    """(sha, codec, sr_hz, audio struct): decoded stats per DISTINCT
    payload-decode key of the ``hashed`` rows — the standalone
    decode-once-per-key table (the stage graph decodes per row inside
    its one payload pass instead).

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
    payload.

    ``with_fingerprints`` — compute the Philips content fingerprint
    (operators/audiofp) in the SAME decode pass and emit it alongside:
    output gains ``rep_id`` (the representative clip_id), ``n_subfp``
    and ``fp`` top-level columns while ``audio`` keeps its exact
    AUDIO_STATS_SCHEMA shape.
    """
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
    rep_id = [F.col("clip_id").alias("rep_id")] if with_fingerprints else []
    decoded = rep_rows.select(
        sha1_expr("bytes").alias("sha"),
        "codec",
        "sr_hz",
        *rep_id,
        _decode_column(F.col("bytes"), with_fingerprints),
    )
    return decoded.select(*decoded.columns[:-1], *_audio_columns(with_fingerprints))


def enrich(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    hashed: DataFrame,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Full enrichment from separate passes: text pass ⋈ hashed (sha) ⋈
    per-distinct-payload audio stats. Its output has the columns of the
    stage graph's ``enriched`` projection (``ENRICHED_COLUMNS``), which
    reads them from one pass instead.

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


@lru_cache(maxsize=64)
def _rule_columns(
    cfg: PipelineConfig, dur_bounds: tuple[float, float] | None
) -> tuple[Column, Column]:
    """The ``keep`` and ``rules_fired`` columns of one rule set. Building
    them is some hundred py4j calls, so they are built once per (config,
    fence) — both hashable, the config frozen — and reused by every
    ``decide`` under it (each streaming tick, each re-score)."""
    rules = build_rules(cfg, dur_bounds)
    return keep_expr(rules).alias("keep"), rules_fired_expr(rules).alias("rules_fired")


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
    keep, fired = _rule_columns(cfg, None if dur_bounds is None else tuple(dur_bounds))
    return enriched.select(
        "clip_id",
        keep,
        fired,
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
    """One build of the stage graph. Every frame is lazy except ``cache``,
    the filled payload pass over the full input; ``n_rows`` is that fill's
    count and ``observed`` its whole observed row (``rows`` plus the
    caller's ``observe`` aggregates); ``dur_bounds`` is the fence
    ``decisions`` applies. ``stats`` is None unless the graph was built
    with fingerprints. The caller owns the cache: call
    ``cache.unpersist()`` once the consumers have run."""

    cache: DataFrame
    n_rows: int
    observed: dict
    dur_bounds: tuple[float, float] | None
    stats: DataFrame | None
    enriched: DataFrame
    decisions: DataFrame


ENRICHED_COLUMNS = (
    "clip_id", "sr_hz", "dur_ms", "codec", "transcript", "sha", "audio", "langid", "ppl", "scrub"
)


def payload_pass(
    clips: DataFrame, scope: Column | None = None, with_fingerprints: bool = False
) -> DataFrame:
    """The ONE payload scan and the ONE Python stage of the stage graph:
    (clip_id, sha, codec, sr_hz, dur_ms, transcript, langid, ppl, scrub,
    audio[, n_subfp, fp]) for every row of ``clips``. The text UDFs read
    the transcript and the decode UDF the payload of the ``scope`` rows
    only (null elsewhere, so out-of-scope rows cost no UDF work), all in
    one ArrowEvalPython node; ``sha`` spans every row. The output holds
    no payload bytes."""
    transcript, payload = F.col("transcript"), F.col("bytes")
    if scope is not None:
        transcript, payload = F.when(scope, transcript), F.when(scope, payload)
    scored = clips.select(
        "clip_id", sha1_expr("bytes").alias("sha"), "codec", "sr_hz", "dur_ms", "transcript",
        *_text_columns(transcript),
        _decode_column(payload, with_fingerprints),
    )
    return scored.select(*scored.columns[:-1], *_audio_columns(with_fingerprints))


def stage_graph(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    dur_bounds: tuple[float, float] | None = None,
    scope: Column | None = None,
    keepers: Callable[[DataFrame, dict], DataFrame] | None = None,
    observe: Sequence[Column] = (),
    with_fingerprints: bool = False,
    input_fence: bool = False,
) -> StageGraph:
    """Build payload pass → keepers → decisions from the FULL input
    ``clips``.

    ``scope`` — a predicate over clip_id selecting the rows to decide
    (None: every row); the UDFs of the payload pass see only those rows,
    while the cache and the keepers span the full input.
    ``keepers`` — maps the cache and the fill's observed row to (sha,
    keeper_clip_id); default ``keepers_by_sha`` over the cache.
    ``observe`` — extra named aggregates over the cache for the fill to
    observe, handed to ``keepers`` in that row and kept as
    ``StageGraph.observed`` (the streaming tick's touched registry
    buckets, the resumed job's count of rows to decide).
    ``with_fingerprints`` — the pass decodes with the content
    fingerprint, and ``stats`` holds (sha, codec, sr_hz, rep_id, n_subfp,
    fp) per distinct decode key of the scope rows: a JVM aggregate over
    the cache, rep_id the key's min clip_id.
    ``input_fence`` — decide with the IQR fence of the full input's
    ``dur_ms`` (the batch job, the in-session pipeline) instead of a
    ``dur_bounds`` handed in (the stream's fence, calibrated once).

    The cache is filled EAGERLY: two consumers in one action would
    otherwise race to fill it and run the payload pass twice. The fill is
    a noop write observed by one ``Observation`` — the row count, the
    ``observe`` aggregates and, for ``input_fence``, the same exact
    quartiles and count that ``outliers.iqr_bounds`` runs as a job of its
    own (so the fence is bit-identical), all in one Spark job, where
    ``count()`` over a cache runs three and each further aggregate a pass
    of its own. Everything after the fill reads the cache in the JVM.
    When any step of the build fails, from the fill through ``decide``,
    the cache is released here; after a successful build the caller owns
    it.
    """
    if input_fence and dur_bounds is not None:
        raise ValueError("stage_graph takes dur_bounds or input_fence, not both")
    aggs = [F.count(F.lit(1)).alias("rows"), *observe]
    if input_fence:
        q, n = iqr_aggs("dur_ms")
        aggs += [q.alias("dur_q"), n.alias("dur_n")]
    cache = payload_pass(clips, scope, with_fingerprints).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fill = Observation()
        cache.observe(fill, *aggs).write.format("noop").mode("overwrite").save()
        seen = fill.get
        if input_fence:
            dur_bounds = fence(
                seen["dur_q"], seen["dur_n"], cfg.outlier_iqr_mult, cfg.outlier_min_rows
            )
        if keepers is None:
            keeper_rows = keepers_by_sha(cache.select("clip_id", "sha"), cfg)
        else:
            keeper_rows = keepers(cache, seen)
        todo = cache if scope is None else cache.where(scope)
        stats = None
        if with_fingerprints:
            stats = (
                todo.where(F.col("sha").isNotNull())
                .groupBy("sha", "codec", "sr_hz")
                .agg(
                    F.min("clip_id").alias("rep_id"),
                    F.min_by(F.struct("n_subfp", "fp"), "clip_id").alias("_r"),
                )
                .select("sha", "codec", "sr_hz", "rep_id", "_r.n_subfp", "_r.fp")
            )
        enriched = todo.select(*ENRICHED_COLUMNS)
        decisions = decide(flag_duplicates(enriched, keeper_rows), cfg, dur_bounds)
    except BaseException:
        cache.unpersist()
        raise
    return StageGraph(cache, seen["rows"], seen, dur_bounds, stats, enriched, decisions)


@lru_cache(maxsize=64)
def _core_severities(cfg: PipelineConfig) -> tuple[Column, frozenset[str]]:
    """The core rules' (rule → severity) map column and their names,
    built once per config as ``_rule_columns`` is: ``build_rules`` is
    some hundred py4j calls, and every run and findings write reuses it."""
    rules = build_rules(cfg)
    return severity_map_expr(rules), frozenset(r.name for r in rules)


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
    sev, core = _core_severities(cfg)
    if extra_severities:
        clash = sorted(set(extra_severities) & core)
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
    """End-to-end in-session run (tests / entry point): ``stage_graph``
    over every row, with the IQR fence of ``clips`` observed on its cache
    fill. The spark-submit job with lineage/resume (run/job.py) builds
    the same graph.

    ``with_column_findings`` triggers two extra eager aggregate passes
    (the reference's dataset-level issue records) — off by default.
    """
    graph = stage_graph(clips, cfg, input_fence=True)
    decisions = graph.decisions
    findings = findings_from_decisions(decisions, cfg)
    summ = metrics_ops.summary(findings)
    col_findings = (
        metrics_ops.column_findings(spark, clips, decisions, cfg)
        if with_column_findings
        else None
    )
    return PipelineResult(decisions, findings, summ, graph.dur_bounds, col_findings)
