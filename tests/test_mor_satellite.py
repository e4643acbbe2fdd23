"""Merge-on-read SCD2 satellites: every satellite load is one
`txn.upsert_mor` of the SCD2 delta keyed on (hash key, load_date), and the
table it reads back as equals `vault.load_satellite`'s full result."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from airflow_etl_spark import vault
from airflow_etl_spark.functions import dv_hash_key
from airflow_etl_spark.operators import maintenance
from airflow_etl_spark.pipeline import EntityConfig, Pipeline, SourceConfig
from airflow_etl_spark.sources import read_table, txn

DATES = ["2024-01-01", "2024-01-02", "2024-01-03"]
ENT = EntityConfig("thing", "things", ["k"], ["v"])
ENT_W = EntityConfig("thing_w", "things", ["k"], ["w"])


def _day(root, name: str, rows: dict[int, tuple[str, str]]) -> str:
    """A source dir holding `things.parquet` = {k: (v, w)}."""
    d = os.path.join(root, name)
    os.makedirs(d, exist_ok=True)
    ks = sorted(rows)
    pq.write_table(
        pa.table({
            "k": pa.array(ks, pa.int64()),
            "v": [rows[k][0] for k in ks],
            "w": [rows[k][1] for k in ks],
        }),
        os.path.join(d, "things.parquet"),
    )
    return d


def _pipeline(spark, tmp_path, entities=(ENT,)) -> Pipeline:
    p = Pipeline(
        spark, str(tmp_path / "wh"),
        [SourceConfig(name="s", tables=["things"], entities=list(entities))],
        sf_dir=str(tmp_path),
    )
    p.ledger.seed_dates([(d, 0, None, 0) for d in DATES])
    return p


def _run(p: Pipeline, sf_dir: str, date: str) -> None:
    p.sf_dir = sf_dir
    p.run(date)


def _sat_path(p: Pipeline, ent=ENT) -> str:
    return p._tpath("raw_vault", f"satellite_{ent.name}")


def _files(path: str) -> dict[str, float]:
    return {
        os.path.join(root, f): os.path.getmtime(os.path.join(root, f))
        for root, _d, files in os.walk(path) for f in files
    }


def _rows(df) -> list[str]:
    cols = sorted(df.columns)
    return sorted(map(str, df.select(*cols).collect()))


BASE = {k: (f"v{k}", f"w{k}") for k in range(200)}


def test_satellite_matches_full_load(spark, tmp_path):
    """After day 1, a churn day (changed, new and retired keys), an
    identical re-load and compaction, the pipeline's satellite reads back
    as exactly `vault.load_satellite`'s full result."""
    churn = {k: r for k, r in BASE.items() if k not in (3, 4)}  # retired
    churn.update({7: ("CHANGED", "w7"), 42: ("CHANGED", "w42")})
    churn.update({500: ("v500", "w500"), 501: ("v501", "w501")})  # new
    days = [
        _day(tmp_path, "d1", BASE),
        _day(tmp_path, "d2", churn),
        _day(tmp_path, "d3", churn),  # identical snapshot, next date
    ]
    p = _pipeline(spark, tmp_path)
    ref = None
    for d, date in zip(days, DATES):
        _run(p, d, date)
        src = spark.read.parquet(os.path.join(d, "things.parquet"))
        full = vault.load_satellite(
            ref, src, ENT.business_keys, ENT.attr_cols, ENT.name, date, "s"
        )
        ref = spark.createDataFrame(full.collect(), full.schema)
        assert _rows(read_table(spark, _sat_path(p))) == _rows(ref)

    maintenance.compact(spark, _sat_path(p))
    assert not txn.live_manifest(_sat_path(p)).get("deletes")
    assert _rows(read_table(spark, _sat_path(p))) == _rows(ref)
    # the reference itself: 2 changed + 2 retired closed, 200 open
    assert ref.filter(F.col("load_end_date").isNotNull()).count() == 4
    assert ref.filter(F.col("load_end_date").isNull()).count() == 200


def test_churn_day_writes_only_the_delta(spark, tmp_path):
    """A day that changes 2 of 200 keys writes exactly 4 data rows (the 2
    closed copies and the 2 new open rows) and one equality-delete file on
    the 2-column key (hash key, load_date), and leaves every earlier file
    untouched."""
    p = _pipeline(spark, tmp_path)
    _run(p, _day(tmp_path, "d1", BASE), DATES[0])
    path = _sat_path(p)
    m1 = txn.live_manifest(path)
    data_before = {
        f: t for f, t in _files(path).items() if f"{os.sep}_data{os.sep}" in f
    }

    day2 = dict(BASE)
    day2.update({7: ("CHANGED", "w7"), 42: ("CHANGED", "w42")})
    _run(p, _day(tmp_path, "d2", day2), DATES[1])

    after = _files(path)
    assert all(after.get(f) == t for f, t in data_before.items())
    m2 = txn.live_manifest(path)
    old = {e["path"] for e in m1["files"]}
    new = [e for e in m2["files"] if e["path"] not in old]
    assert {e["path"] for e in m2["files"]} >= old
    written = pa.concat_tables(
        [pq.read_table(os.path.join(path, e["path"])) for e in new]
    )
    keymap = {
        r.k: r.h for r in spark.createDataFrame([(7,), (42,), (100,)], "k long")
        .select("k", dv_hash_key("k").alias("h")).collect()
    }
    assert written.num_rows == sum(e["record_count"] for e in new) == 4
    assert sorted(zip(written.column("thing_hash_key").to_pylist(),
                      written.column("load_end_date").to_pylist()),
                  key=str) == sorted(
        [(keymap[k], end) for k in (7, 42) for end in (DATES[1], None)],
        key=str,
    )
    assert len(m2["deletes"]) == 1
    d = m2["deletes"][0]
    assert d["key_cols"] == ["thing_hash_key", "load_date"]
    # the delete file holds the delta's keys: the 2 replaced open rows'
    # identities, and the 2 new rows' (which match no older row)
    dk = pq.read_table(os.path.join(path, d["path"]))
    assert sorted(zip(*(dk.column(c).to_pylist() for c in d["key_cols"]))) == \
        sorted((keymap[k], date) for k in (7, 42) for date in DATES[:2])

    # both changed keys re-versioned, one open row each; others untouched
    sat = read_table(spark, path)
    for k in (7, 42):
        rows = sorted(
            (r.load_date, r.load_end_date, r.v)
            for r in sat.filter(F.col("thing_hash_key") == keymap[k]).collect()
        )
        assert rows == [
            (DATES[0], DATES[1], f"v{k}"),
            (DATES[1], None, "CHANGED"),
        ]
    assert sat.filter(F.col("thing_hash_key") == keymap[100]).count() == 1


def test_identical_snapshot_writes_nothing(spark, tmp_path):
    """An identical snapshot on the next date leaves the satellite dir's
    files and mtimes exactly as they were, and the hub's manifest and
    `_data` listing unchanged (an empty delta publishes nothing)."""
    p = _pipeline(spark, tmp_path)
    _run(p, _day(tmp_path, "d1", BASE), DATES[0])
    hub = p._tpath("raw_vault", f"hub_{ENT.name}")

    def hub_state():
        return txn.live_manifest(hub), sorted(os.listdir(os.path.join(hub, "_data")))

    before, hub_before = _files(_sat_path(p)), hub_state()
    _run(p, _day(tmp_path, "d2", BASE), DATES[1])
    assert _files(_sat_path(p)) == before
    assert hub_state() == hub_before


def test_rerun_of_committed_date_adds_nothing(spark, tmp_path):
    """Re-running a satellite load that already committed, on the same
    date, neither publishes nor changes a row."""
    day2 = {k: r for k, r in BASE.items() if k != 3}
    day2.update({7: ("CHANGED", "w7"), 500: ("v500", "w500")})
    p = _pipeline(spark, tmp_path)
    _run(p, _day(tmp_path, "d1", BASE), DATES[0])
    _run(p, _day(tmp_path, "d2", day2), DATES[1])
    path = _sat_path(p)
    ver, rows = txn._read_pointer(path), _rows(read_table(spark, path))

    p.load_entity(p.sources[0], ENT, DATES[1])
    assert txn._read_pointer(path) == ver
    assert _rows(read_table(spark, path)) == rows


def test_churn_leaves_one_pending_delete_per_changed_satellite(spark, tmp_path):
    """After a churn date each satellite manifest is unpartitioned and
    holds one pending equality delete if its attributes changed, none if
    they did not; compaction folds them away."""
    p = _pipeline(spark, tmp_path, entities=(ENT, ENT_W))
    _run(p, _day(tmp_path, "d1", BASE), DATES[0])
    day2 = dict(BASE)
    day2.update({7: ("CHANGED", "w7")})  # v changes, w does not
    _run(p, _day(tmp_path, "d2", day2), DATES[1])

    changed, unchanged = (txn.live_manifest(_sat_path(p, e)) for e in (ENT, ENT_W))
    for m in (changed, unchanged):
        assert m["partition_by"] is None
        assert all(e.get("partition") is None for e in m["files"])
    assert len(changed["deletes"]) == 1
    assert not unchanged.get("deletes")

    for e in (ENT, ENT_W):
        maintenance.compact(spark, _sat_path(p, e))
        assert not txn.live_manifest(_sat_path(p, e)).get("deletes")
