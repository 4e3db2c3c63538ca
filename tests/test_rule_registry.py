"""Runtime rule registry (config.load_rule_config — the file-based analog
of the reference's POST /config/validation-rules,
src/api/routes/config.py:21-71): per-rule enabled flags and parameter
overrides must flow through BOTH the Spark pipeline and the pandas oracle
identically."""

from __future__ import annotations

import json

import pytest

from data_quality_checker_spark.config import (
    DEFAULT_CONFIG,
    KNOWN_RULES,
    load_rule_config,
)
from data_quality_checker_spark.operators.rules import build_rules
from data_quality_checker_spark.oracle.pandas_oracle import RULES as ORACLE_RULES
from data_quality_checker_spark.oracle.pandas_oracle import label_clips
from data_quality_checker_spark.pipeline import run_pipeline


def _write(tmp_path, doc):
    p = tmp_path / "rules.json"
    p.write_text(json.dumps(doc))
    return str(p)


def test_known_rules_registry_is_canonical(spark):
    assert KNOWN_RULES == tuple(sorted(ORACLE_RULES))
    assert [r.name for r in build_rules()] == list(KNOWN_RULES)


def test_load_disable_and_override(spark, tmp_path):
    cfg = load_rule_config(
        _write(
            tmp_path,
            {
                "config_name": "strict",
                "rules": [
                    {"rule_name": "duplicate", "enabled": False},
                    {
                        "rule_name": "dur_below_min",
                        "enabled": True,
                        "parameters": {"dur_ms_min": 500},
                    },
                ],
                "parameters": {"perplexity_max": 40.0, "sr_hz_whitelist": [16000]},
            },
        )
    )
    assert cfg.disabled_rules == ("duplicate",)
    assert cfg.dur_ms_min == 500
    assert cfg.perplexity_max == 40.0
    assert cfg.sr_hz_whitelist == (16000,)  # list coerced to tuple
    assert {r.name for r in build_rules(cfg)} == set(KNOWN_RULES) - {"duplicate"}


def test_disabled_rule_parameters_do_not_leak(tmp_path):
    """ADVICE r2: a disabled rule's parameters are shared PipelineConfig
    fields — applying them would silently change OTHER rules' behavior,
    so they must be ignored."""
    cfg = load_rule_config(
        _write(
            tmp_path,
            {
                "rules": [
                    {
                        "rule_name": "dur_below_min",
                        "enabled": False,
                        "parameters": {"dur_ms_min": 99999},
                    }
                ]
            },
        )
    )
    assert cfg.disabled_rules == ("dur_below_min",)
    assert cfg.dur_ms_min == DEFAULT_CONFIG.dur_ms_min


def test_load_rejects_typos(tmp_path):
    with pytest.raises(ValueError, match="unknown rule_name"):
        load_rule_config(_write(tmp_path, {"rules": [{"rule_name": "duplicat"}]}))
    with pytest.raises(ValueError, match="unknown config parameter"):
        load_rule_config(_write(tmp_path, {"parameters": {"dur_ms_minn": 1}}))


def test_disabling_drop_rule_matches_oracle(spark, clips_df, clips_pdf, tmp_path):
    """Disabling the duplicate drop-rule must flip exactly the clips the
    pandas oracle says it flips — keep/drop stays in exact agreement."""
    cfg = load_rule_config(
        _write(tmp_path, {"rules": [{"rule_name": "duplicate", "enabled": False}]})
    )
    spark_keep = {
        r["clip_id"]: r["keep"]
        for r in run_pipeline(spark, clips_df, cfg).decisions.collect()
    }
    oracle = label_clips(clips_pdf, cfg)
    oracle_keep = dict(zip(oracle["clip_id"], oracle["keep"]))
    assert spark_keep == oracle_keep
    # and the rule really was disabled: at least one previously-dropped
    # duplicate clip is now kept
    base = label_clips(clips_pdf)
    flipped = [
        cid
        for cid, k in oracle_keep.items()
        if k and not dict(zip(base["clip_id"], base["keep"]))[cid]
    ]
    assert flipped, "corpus should contain a dup-only drop that flips to keep"
    assert all(spark_keep[c] for c in flipped)


def test_parameter_override_changes_decisions(spark, clips_df, clips_pdf, tmp_path):
    """Tightening dur_ms_min must drop more clips, identically in Spark
    and the oracle."""
    cfg = load_rule_config(
        _write(
            tmp_path,
            {"rules": [{"rule_name": "dur_below_min", "parameters": {"dur_ms_min": 1500}}]},
        )
    )
    spark_keep = {
        r["clip_id"]: r["keep"]
        for r in run_pipeline(spark, clips_df, cfg).decisions.collect()
    }
    oracle = label_clips(clips_pdf, cfg)
    assert spark_keep == dict(zip(oracle["clip_id"], oracle["keep"]))
    base = label_clips(clips_pdf)
    assert (~oracle["keep"]).sum() > (~base["keep"]).sum()


def test_job_cli_records_rules_in_lineage(spark, clips_df, tmp_path):
    """run/job.py --rules: the executed rule set lands in the run's
    config.json lineage."""
    import data_quality_checker_spark.run.job as job

    inp = str(tmp_path / "clips")
    out = str(tmp_path / "out")
    clips_df.write.parquet(inp)
    rules_file = _write(
        tmp_path, {"rules": [{"rule_name": "duplicate", "enabled": False}]}
    )
    cfg = load_rule_config(rules_file)
    job.run_job(spark, inp, out, "r1", cfg)
    recorded = json.load(open(tmp_path / "out" / "runs" / "run_id=r1" / "config.json"))
    assert recorded["config"]["disabled_rules"] == ["duplicate"]


def test_config_store_crud(tmp_path):
    """Named-config CRUD (reference /config/validation-rules surface):
    create, list, get, update, delete; invalid docs never land."""
    from data_quality_checker_spark import config_store as cs

    store = str(tmp_path / "store")
    doc = {
        "config_name": "strict",
        "description": "strict rules",
        "rules": [{"rule_name": "duplicate", "enabled": False}],
    }
    cs.save_config(store, doc)
    assert cs.list_configs(store) == [
        {"config_name": "strict", "description": "strict rules", "rules_count": 1}
    ]
    assert cs.get_config(store, "strict")["rules"][0]["rule_name"] == "duplicate"
    assert cs.resolve_config(store, "strict").disabled_rules == ("duplicate",)

    with pytest.raises(FileExistsError):
        cs.save_config(store, doc)
    cs.update_config(store, "strict", {**doc, "description": "v2"})
    assert cs.get_config(store, "strict")["description"] == "v2"

    # an invalid document must not be stored (validated pre-publish)
    bad = {"config_name": "typo", "rules": [{"rule_name": "duplicat"}]}
    with pytest.raises(ValueError):
        cs.save_config(store, bad)
    assert [c["config_name"] for c in cs.list_configs(store)] == ["strict"]

    cs.delete_config(store, "strict")
    assert cs.list_configs(store) == []
    with pytest.raises(KeyError):
        cs.get_config(store, "strict")


def test_usage_metrics_over_lineage(spark, clips_df, tmp_path):
    """GET /metrics/usage analog over the job's lineage+findings tables."""
    import data_quality_checker_spark.run.job as job
    from data_quality_checker_spark.run.compare import usage_metrics

    inp = str(tmp_path / "clips")
    out = str(tmp_path / "out")
    clips_df.write.parquet(inp)
    job.run_job(spark, inp, out, "r1")
    m = usage_metrics(spark, out, days=7)
    assert m["total_runs"] == 1
    assert m["rows_processed"] == clips_df.count()
    assert m["total_findings"] > 0
    assert m["avg_findings_per_run"] == m["total_findings"]
    assert sum(m["runs_by_day"].values()) == 1
    # outside the window: nothing
    assert usage_metrics(spark, out, days=0)["total_runs"] == 0


def test_decide_rule_cache_is_keyed_on_config_and_bounds(spark, clips_df):
    """decide reuses its rule columns per (config, dur_bounds): in one
    session, two fences and a disabled-rule config each get exactly the
    decisions of freshly built rules, never another key's."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from data_quality_checker_spark.operators.dedup import flag_duplicates, keepers_by_sha
    from data_quality_checker_spark.operators.rules import keep_expr, rules_fired_expr
    from data_quality_checker_spark.pipeline import decide, stage_graph

    graph = stage_graph(clips_df.limit(60))
    enriched = flag_duplicates(
        graph.enriched, keepers_by_sha(graph.cache.select("clip_id", "sha"))
    ).persist()
    try:
        disabled = replace(DEFAULT_CONFIG, disabled_rules=("dur_outlier",))
        narrow, wide = (2000.0, 6000.0), (0.0, 1e9)
        got = {}
        for key in [
            (DEFAULT_CONFIG, narrow),
            (DEFAULT_CONFIG, wide),
            (disabled, narrow),
            (DEFAULT_CONFIG, narrow),
        ]:
            cfg, bounds = key
            rules = build_rules(cfg, bounds)
            want = enriched.select(
                "clip_id",
                keep_expr(rules).alias("keep"),
                rules_fired_expr(rules).alias("rules_fired"),
            )
            rows = sorted(
                decide(enriched, cfg, bounds)
                .select("clip_id", "keep", F.col("rules_fired"))
                .collect()
            )
            assert rows == sorted(want.collect()), key
            got.setdefault(key, rows)
        # the keys really differ, so a cache returning another key's
        # columns would have failed above
        assert got[(DEFAULT_CONFIG, narrow)] != got[(DEFAULT_CONFIG, wide)]
        assert got[(DEFAULT_CONFIG, narrow)] != got[(disabled, narrow)]
    finally:
        enriched.unpersist()
        graph.cache.unpersist()
