"""The write and rewrite paths' fixed Spark costs.

- An ingest batch (protocol ``ingest_rows`` and SQL ``INSERT``) is an
  Arrow table that Spark plans as a LocalRelation: no RDD, no Python
  worker.  Values keep their types exactly; one that does not fit its
  column raises instead of being cast.
- ``compact()`` rewrites all of a table's segments in one Spark job, so
  the job count does not grow with the segment count; the dedup view is
  unchanged and a small segment ends as one file.
- Key- and random-partitioned tables keep segments under
  ``__partition=p/``; TTL expiry and compaction work on those leaves.
- A protocol write into an SQL table whose timestamp key is not ``ts``
  lands in that key.
"""

from __future__ import annotations

import os
import time

import pytest

from incubator_horaedb_spark import fsops
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.streaming.ingest import ingest_rows
from incubator_horaedb_spark.table import Table

SEG_MS = 2 * 3600 * 1000


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "store"))


def _parquet_files(engine, name: str) -> dict[str, int]:
    data = engine.catalog.data_dir(name)
    out = {}
    for dirpath, _dirs, files in os.walk(data):
        n = sum(f.endswith(".parquet") for f in files)
        if n and "/." not in dirpath:
            out[os.path.relpath(dirpath, data)] = n
    return out


def _mk_overwrite(engine, name: str, n_segments: int, versions: int = 3):
    engine.execute_sql(
        f"CREATE TABLE {name} (k string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE=Analytic "
        "WITH(enable_ttl='false', update_mode='OVERWRITE', segment_duration='2h')"
    )
    for version in range(versions):
        for s in range(n_segments):
            values = ", ".join(
                f"('k{i % 4}', {version * 1000 + s * 100 + i}, {s * SEG_MS + 1000 + i})"
                for i in range(12)
            )
            engine.execute_sql(f"INSERT INTO {name} (k, v, t) VALUES {values}")
    return engine.table(name)


def _jobs_of(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_compact_is_one_job_per_table(engine, spark):
    one = _mk_overwrite(engine, "seg1", n_segments=1)
    four = _mk_overwrite(engine, "seg4", n_segments=4)
    views = {t.name: sorted(map(tuple, t.read().collect())) for t in (one, four)}
    counts = {}
    for t in (one, four):
        n = {}
        counts[t.name] = _jobs_of(
            spark, lambda t=t: n.setdefault("n", t.compact()), f"compact-{t.name}"
        )
        assert n["n"] == len(t._segment_dirs())
    assert counts["seg1"] == counts["seg4"], counts
    for t in (one, four):
        assert sorted(map(tuple, t.read().collect())) == views[t.name]
        files = _parquet_files(engine, t.name)
        assert len(files) == len(t._segment_dirs())
        assert set(files.values()) == {1}, files
    # staging areas hold nothing once the commits are done
    data = engine.catalog.data_dir("seg4")
    assert not fsops.exists(spark, f"{data}/.rewrite-tmp")
    assert fsops.list_dirs(spark, f"{data}/.rewrite-old") == []


def test_compact_splits_a_large_segment(engine):
    """A segment above the target size still gets several files, while a
    small one beside it stays one file."""
    tbl = _mk_overwrite(engine, "big", n_segments=1, versions=6)
    engine.execute_sql(f"INSERT INTO big (k, v, t) VALUES ('k0', 1, {SEG_MS + 1000})")
    sizes = {s: fsops.dir_bytes(engine.spark, p) for s, p in tbl._segment_dirs()}
    big, small = sorted(sizes, key=sizes.get, reverse=True)
    target = sizes[big] // 3
    assert sizes[small] < target
    before = sorted(map(tuple, tbl.read().collect()))
    assert tbl.compact(target_file_bytes=target) == 2
    files = _parquet_files(engine, "big")
    assert 1 < files[big] <= fsops.n_output_files(sizes[big], target)
    assert files[small] == 1
    assert sorted(map(tuple, tbl.read().collect())) == before


def _logical_plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_ingest_batches_are_local_relations(engine, monkeypatch):
    seen = []
    real_write = Table.write
    monkeypatch.setattr(
        Table, "write", lambda t, df: seen.append(_logical_plan(df)) or real_write(t, df)
    )
    ingest_rows(engine, "m", [{"ts": 1_000, "host": "a", "v": 1.0}], tag_cols=["host"])
    engine.execute_sql("INSERT INTO m (ts, host, v) VALUES (2000, 'b', 2.0)")
    assert len(seen) == 2
    for plan in seen:
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_ingest_types_round_trip(engine):
    now = int(time.time() * 1000)  # inside the default TTL
    rows = [
        {"ts": now, "host": "a", "i": 1, "f": 0.5, "b": True, "s": "x", "n": None},
        {"ts": now, "host": "b", "i": None, "f": None, "b": False, "s": 3, "n": None},
        {"ts": now, "host": "c", "i": -(2**62), "f": -1.25, "b": None, "s": True},
        {"ts": now, "host": "d", "i": 0, "f": 1e300, "b": True, "s": None},
    ]
    assert ingest_rows(engine, "types", rows, tag_cols=["host"]) == 4
    kinds = {c.name: c.kind for c in engine.catalog.get("types").schema.columns}
    assert kinds == {
        "ts": "timestamp", "host": "string", "i": "int64", "f": "double",
        "b": "boolean", "s": "string", "n": "string",
    }
    got = sorted(
        (r.host, r.i, r.f, r.b, r.s, r.n)
        for r in engine.table("types").read().collect()
    )
    assert got == [
        ("a", 1, 0.5, True, "x", None),
        ("b", None, None, False, "3", None),  # a string column takes any value's text
        ("c", -(2**62), -1.25, None, "true", None),
        ("d", 0, 1e300, True, None, None),
    ]


def test_insert_types_round_trip(engine):
    now = int(time.time() * 1000)
    engine.execute_sql(
        "CREATE TABLE it (k string TAG, i bigint, d double, b boolean, "
        "y varbinary, t timestamp NOT NULL, timestamp KEY (t)) ENGINE=Analytic"
    )
    engine.execute_sql(
        "INSERT INTO it (k, i, d, b, y, t) VALUES "
        f"('a', 7, 2, true, 'xy', {now}), ('b', NULL, 0.25, NULL, NULL, {now})"
    )
    got = sorted(
        (r.k, r.i, r.d, r.b, None if r.y is None else bytes(r.y))
        for r in engine.table("it").read().collect()
    )
    assert got == [("a", 7, 2.0, True, b"xy"), ("b", None, 0.25, None, None)]


@pytest.mark.parametrize(
    "rows, error",
    [
        ([{"ts": 1_000, "v": 1}, {"ts": 2_000, "v": 1.5}], TypeError),  # float into int64
        ([{"ts": 1_000, "v": 1}, {"ts": 2_000, "v": True}], TypeError),  # bool into int64
        ([{"ts": 1_000, "v": 1.0}, {"ts": 2_000, "v": 2}], TypeError),  # int into double
        ([{"ts": 1_000, "v": b"x"}, {"ts": 2_000, "v": "x"}], TypeError),  # str into binary
        ([{"ts": 1_000, "v": 2**63}], ValueError),  # beyond int64
    ],
)
def test_ingest_rejects_values_that_do_not_fit(engine, rows, error):
    with pytest.raises(error):
        ingest_rows(engine, "bad", rows, tag_cols=[])


def test_insert_rejects_values_that_do_not_fit(engine):
    engine.execute_sql(
        "CREATE TABLE ib (i bigint, t timestamp NOT NULL, timestamp KEY (t)) "
        "ENGINE=Analytic"
    )
    for literal in ("'seven'", "true", "1.5"):
        with pytest.raises(TypeError):
            engine.execute_sql(f"INSERT INTO ib (i, t) VALUES ({literal}, 1000)")
    assert engine.table("ib").read().count() == 0


@pytest.mark.parametrize(
    "partitioning", ["PARTITION BY KEY(k) PARTITIONS 2", "PARTITION BY RANDOM PARTITIONS 2"]
)
def test_ttl_and_compact_on_partitioned_tables(engine, partitioning):
    now = int(time.time() * 1000)
    engine.execute_sql(
        "CREATE TABLE pt (k string TAG, v double, t timestamp NOT NULL, "
        f"timestamp KEY (t)) ENGINE=Analytic {partitioning} "
        "WITH(enable_ttl='true', ttl='1d', segment_duration='2h', "
        "update_mode='OVERWRITE')"
    )
    old = now - 2 * 86_400_000
    engine.execute_sql(f"INSERT INTO pt (k, v, t) VALUES ('a', 1, {now}), ('b', 2, {old})")
    engine.execute_sql(f"INSERT INTO pt (k, v, t) VALUES ('a', 3, {now}), ('c', 4, {now - 1})")
    engine.execute_sql(f"INSERT INTO pt (k, v, t) VALUES ('d', 5, {now - 2})")
    tbl = engine.table("pt")
    leaves = [s for s, _ in tbl._segment_dirs()]
    assert leaves and all(s.startswith("__partition=") for s in leaves)
    old_seg = f"__segment={old // SEG_MS}"
    assert tbl.ttl_expire(now_ms=now) == sum(s.endswith(old_seg) for s in leaves) >= 1
    live = [s for s, _ in tbl._segment_dirs()]
    assert not any(s.endswith(old_seg) for s in live)
    assert sum(_parquet_files(engine, "pt").values()) > len(live)
    assert tbl.compact() == len(live)
    assert set(_parquet_files(engine, "pt")) == set(live)
    assert set(_parquet_files(engine, "pt").values()) == {1}
    got = sorted((r.k, r.v) for r in tbl.read(now_ms=now).collect())
    assert got == [("a", 3.0), ("c", 4.0), ("d", 5.0)]


def test_line_protocol_into_table_keyed_on_t(engine):
    from incubator_horaedb_spark.server import EngineServer

    engine.execute_sql(
        "CREATE TABLE m (host string TAG, v double, t timestamp NOT NULL, "
        "timestamp KEY (t)) ENGINE=Analytic "
        "WITH(update_mode='OVERWRITE', enable_ttl='false')"
    )
    server = EngineServer(engine)
    try:
        server.handle_line_protocol(
            "m,host=a v=1 1700000000000000000\n"
            "m,host=a v=2 1700000001000000000\n"
            "m,host=b v=3 1700000000000000000\n"
        )
    finally:
        server.httpd.server_close()
    assert [c.name for c in engine.catalog.get("m").schema.columns] == ["host", "v", "t"]
    rows = engine.table("m").read().selectExpr("host", "v", "unix_millis(t) AS t")
    assert sorted(map(tuple, rows.collect())) == [
        ("a", 1.0, 1_700_000_000_000),
        ("a", 2.0, 1_700_000_001_000),
        ("b", 3.0, 1_700_000_000_000),
    ]


def test_select_registers_only_the_tables_it_names(engine, monkeypatch):
    for name in ("rv_a", "rv_b", "sys.load"):
        engine.execute_sql(
            f"CREATE TABLE `{name}` (k string TAG, v double, t timestamp NOT NULL, "
            "timestamp KEY (t)) ENGINE=Analytic"
        )
    read = []
    real_read = Table.read
    monkeypatch.setattr(
        Table, "read", lambda t, *a, **k: read.append(t.name) or real_read(t, *a, **k)
    )
    engine.execute_sql("SELECT count(*) FROM rv_a").collect()
    assert read == ["rv_a"]
    read.clear()
    engine.execute_sql("SELECT count(*) FROM `sys.load`").collect()
    assert read == ["sys.load"]
    read.clear()
    names = engine.execute_sql(
        "SELECT table_name FROM system.public.tables ORDER BY table_name"
    ).collect()
    assert [r.table_name for r in names] == ["rv_a", "rv_b", "sys.load"]
    assert read == []
