"""Driver-contract guards on the query registry.

The driver evaluates at most 50 ``queries()`` entries per round; in
round 3 entry #51+ silently lost their verdicts. These tests pin the
contract so a registry addition that would cross the cap fails CI
instead of dropping green rows on the floor.
"""

import os

from data_quality_checker_spark import queries as qreg

DRIVER_QUERY_CAP = 50


def test_registry_under_driver_cap():
    qs = qreg.queries()
    assert len(qs) <= DRIVER_QUERY_CAP, (
        f"{len(qs)} registered queries exceed the driver's {DRIVER_QUERY_CAP}-"
        "query cap; merge or retire one before adding another"
    )


def test_first_block_is_subset_of_registry():
    # every head-pinned flagship name must actually exist — a rename that
    # forgets _FIRST would silently unpin the flagship oracles
    missing = [n for n in qreg._FIRST if n not in qreg._QUERIES]
    assert not missing, f"_FIRST names not in registry: {missing}"


def test_every_oracle_names_a_query():
    orphans = set(qreg._ORACLES) - set(qreg._QUERIES)
    assert not orphans, f"oracles without a queries() entry: {orphans}"


def test_fixture_oracles_pin_is_explicit():
    # fixture_oracles() is the tool-facing pin; it must agree with the
    # actual SQL text (an oracle that reads /tmp fixtures at another
    # base would silently dodge oracles_for retargeting)
    fx = qreg.fixture_oracles()
    for name, sql in qreg._ORACLES.items():
        assert ("/tmp/dqc_" in sql) == (name in fx), name


def test_ordered_names_stable_and_complete():
    names = list(qreg.queries())
    assert names[: len([n for n in qreg._FIRST if n in qreg._QUERIES])] == [
        n for n in qreg._FIRST if n in qreg._QUERIES
    ]
    assert set(names) == set(qreg._QUERIES)


def test_publish_builds_each_fixture_once(tmp_path):
    # a published file or directory fixture is reused, never rebuilt, and
    # no tmp path survives the publish
    built = []

    def build_file(tmp):
        built.append(tmp)
        with open(tmp, "w") as fh:
            fh.write("rows")

    def build_dir(tmp):
        built.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    f, d = str(tmp_path / "f.parquet"), str(tmp_path / "d")
    for _ in range(2):
        assert qreg._publish(f, build_file) == f
        assert qreg._publish(d, build_dir, marker="_SUCCESS") == d
    assert len(built) == 2
    assert sorted(os.listdir(tmp_path)) == ["d", "f.parquet"]
