"""The measurement tooling: ``bench.py`` and every ``tools/*.py`` import
cleanly (so a renamed shared routine fails here, not in the next timing
run), and the sf1 replica is reused only after a build that finished."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"


@pytest.fixture
def tools_on_path(monkeypatch):
    """``python tools/x.py`` puts tools/ first on sys.path; the scripts'
    own sys.path inserts are undone with it after the test."""
    monkeypatch.syspath_prepend(str(TOOLS))


@pytest.mark.parametrize(
    "path", [ROOT / "bench.py", *sorted(TOOLS.glob("*.py"))], ids=lambda p: p.name
)
def test_tooling_imports(path, tools_on_path):
    spec = importlib.util.spec_from_file_location(f"tooling_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)  # module-level code only; main() not run
    assert callable(module.main)


# one row per replica table: its key and foreign-key columns
FAKE_TABLES = {
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint",
    "orders": "o_orderkey bigint, o_custkey bigint",
    "customer": "c_custkey bigint",
    "part": "p_partkey bigint",
    "supplier": "s_suppkey bigint",
    "documents": "doc_id bigint",
    "embeddings": "vec_id bigint",
    "events": "event_id bigint",
    "nation": "n_nationkey bigint",
    "region": "r_regionkey bigint",
}


def _fake_table(spark, fail_on: str | None = None):
    requested: list[str] = []

    def table(_spark, _sf_dir, name, parallel=False):
        # key_shifts reads the keyed tables first; once lineitem (the first
        # table copied) has been read, every read is the copy of a table
        if name == fail_on and "lineitem" in requested:
            raise RuntimeError(f"interrupted before {name}")
        requested.append(name)
        schema = FAKE_TABLES[name]
        return spark.createDataFrame([(1,) * len(schema.split(","))], schema)

    return table


@pytest.fixture
def sf1_scaling(tools_on_path):
    return importlib.import_module("sf1_scaling")


def test_replica_build_writes_marker_last(spark, tmp_path, monkeypatch, sf1_scaling):
    from mongodb_nats_connector_spark.sources import tables

    monkeypatch.setattr(tables, "table", _fake_table(spark))
    sf1_scaling.build_replica(spark, str(tmp_path))
    assert (tmp_path / "_COMPLETE").exists()
    for name in FAKE_TABLES:
        assert (tmp_path / f"{name}.parquet").is_dir()
    # copy r shifts every key by r * (max key + 1): 1, 3, 5, ..., 19
    orderkeys = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    assert sorted(r[0] for r in orderkeys.select("l_orderkey").collect()) == [
        1 + 2 * r for r in range(sf1_scaling.REPS)
    ]


def test_interrupted_replica_build_is_not_reused(spark, tmp_path, monkeypatch, sf1_scaling):
    from mongodb_nats_connector_spark.sources import tables

    monkeypatch.setattr(tables, "table", _fake_table(spark))
    sf1_scaling.build_replica(spark, str(tmp_path))
    assert (tmp_path / "_COMPLETE").exists()

    # a rebuild over that complete replica stops after its first table
    monkeypatch.setattr(tables, "table", _fake_table(spark, fail_on="orders"))
    with pytest.raises(RuntimeError, match="interrupted"):
        sf1_scaling.build_replica(spark, str(tmp_path))
    assert not (tmp_path / "_COMPLETE").exists()


def test_replica_dir_builds_only_without_marker(tmp_path, monkeypatch, sf1_scaling):
    builds = []
    monkeypatch.setattr(sf1_scaling, "REPLICA_DIR", str(tmp_path))
    monkeypatch.setattr(sf1_scaling, "build_replica", lambda s, d: builds.append(d))
    assert sf1_scaling.replica_dir(None) == str(tmp_path)
    assert builds == [str(tmp_path)]
    (tmp_path / "_COMPLETE").touch()
    assert sf1_scaling.replica_dir(None) == str(tmp_path)
    assert builds == [str(tmp_path)]
