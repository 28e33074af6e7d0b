"""Structured Streaming ingest: source → (auto-create / auto-evolve) →
sequenced append into the time-partitioned table.

The reference's high-rate write path is WAL → memtable → flush
(src/analytic_engine/src/instance/write.rs) with durable replay
(wal_replayer.rs); protocol writes auto-create tables and auto-add columns
from the payload (src/query_frontend/src/planner.rs:426
build_schema_from_write_table_request; src/proxy/src/write.rs:176-260).

Spark rendering:
- the checkpointed streaming query replaces the WAL (exactly-once
  micro-batch replay from the source);
- ``foreachBatch`` appends through Table.write, so every micro-batch gets
  one monotonic ``__seq`` — dedup order for Overwrite tables is total;
- auto-create infers the TSDB schema from the batch schema (strings →
  TAG, like the protocol writes); auto-evolve adds new nullable columns.

Late/out-of-order data needs no special handling: rows land in whichever
time segment their timestamp belongs to and the Overwrite dedup resolves
duplicates at read, matching the reference (merge.rs:126).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from incubator_horaedb_spark.catalog import TableOptions
from incubator_horaedb_spark.frontends.sql_shim import Engine
from incubator_horaedb_spark.schema import ColumnSchema, TableSchema
from incubator_horaedb_spark.table import Table, local_batch

_SPARK_TO_KIND = {
    "string": "string",
    "double": "double",
    "float": "float",
    "long": "int64",
    "bigint": "int64",
    "integer": "int32",
    "int": "int32",
    "short": "int16",
    "byte": "int8",
    "boolean": "boolean",
    "binary": "varbinary",
    "timestamp": "timestamp",
    "date": "date",
}


def infer_table_schema(
    df_schema: T.StructType, ts_col: str, tag_cols: list[str] | None = None
) -> TableSchema:
    """build_schema_from_write_table_request analogue (planner.rs:426):
    unspecified tag set → every string column is a TAG."""
    cols = []
    for f in df_schema.fields:
        kind = _SPARK_TO_KIND.get(f.dataType.typeName())
        if kind is None:
            raise ValueError(f"cannot ingest column {f.name!r} of type {f.dataType}")
        is_tag = f.name in tag_cols if tag_cols is not None else (
            kind == "string" and f.name != ts_col
        )
        cols.append(ColumnSchema(name=f.name, kind=kind, is_tag=is_tag))
    return TableSchema(columns=cols, timestamp_column=ts_col)


def ensure_table(
    engine: Engine,
    table_name: str,
    batch_df: DataFrame,
    ts_col: str,
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
) -> None:
    """Auto-create or auto-evolve (write.rs:176-260, execute_add_columns_plan)."""
    if not engine.catalog.exists(table_name):
        schema = infer_table_schema(batch_df.schema, ts_col, tag_cols)
        engine.catalog.create_table(table_name, schema, options, if_not_exists=True)
        return
    meta = engine.catalog.get(table_name)
    known = {c.name for c in meta.schema.columns}
    schema = meta.schema
    for f in batch_df.schema.fields:
        if f.name not in known:
            kind = _SPARK_TO_KIND.get(f.dataType.typeName())
            if kind is None:
                raise ValueError(f"cannot evolve with column {f.name!r}: {f.dataType}")
            schema = schema.add_column(ColumnSchema(name=f.name, kind=kind, is_tag=False))
    if schema is not meta.schema:
        meta.schema = schema
        engine.catalog.update(meta)


_PY_TO_SPARK = [
    # bool before int: isinstance(True, int) is True
    (bool, T.BooleanType()),
    (int, T.LongType()),
    (float, T.DoubleType()),
    (str, T.StringType()),
    ((bytes, bytearray), T.BinaryType()),
]


def _batch_schema(rows: list[dict], cols: list[str]) -> T.StructType:
    """Explicit schema from the first non-None value per column — a column
    that is None in every row (heterogeneous protocol batches) defaults to
    string instead of failing Spark's type inference."""
    fields = []
    for c in cols:
        dtype: T.DataType = T.StringType()
        for r in rows:
            v = r.get(c)
            if v is None:
                continue
            for py, spark_t in _PY_TO_SPARK:
                if isinstance(v, py):
                    dtype = spark_t
                    break
            break
        fields.append(T.StructField(c, dtype, True))
    return T.StructType(fields)


def ingest_rows(
    engine: Engine,
    table_name: str,
    rows: list[dict],
    *,
    ts_col: str = "ts",
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
) -> int:
    """Write parsed protocol rows (ms-epoch ``ts``, tag strings, value
    fields) into ``table_name``, auto-creating/evolving first — the shared
    tail of every protocol write path (line protocol, OpenTSDB put, gRPC):
    proxy/src/write.rs:176-260.  Returns the row count.

    ``tag_cols`` should come from the protocol parser's tag/field split
    (ProtocolBatch.tag_keys) — tags define the series key (tsid), so they
    must not be guessed from value types.  The string-valued fallback
    (union over ALL rows, not just the first) exists only for callers with
    no tag information."""
    from pyspark.sql import functions as F

    cols: list[str] = []
    for r in rows:
        for k in r:
            if k not in cols:
                cols.append(k)
    schema = _batch_schema(rows, cols)
    if engine.catalog.exists(table_name):
        # the protocol timestamp is the existing table's timestamp key,
        # whatever that key is named (an SQL-created table may use `t`)
        key = engine.catalog.get(table_name).schema.timestamp_column
        if key != ts_col and ts_col in cols:
            if key in cols:
                raise ValueError(
                    f"field {key!r} collides with the timestamp key of {table_name!r}"
                )
            schema = T.StructType(
                [T.StructField(key, f.dataType) if f.name == ts_col else f for f in schema]
            )
        ts_col = key
    mdf = local_batch(engine.spark, [[r.get(c) for r in rows] for c in cols], schema)
    if ts_col in mdf.columns:
        mdf = mdf.withColumn(ts_col, F.timestamp_millis(F.col(ts_col).cast("long")))
    if tag_cols is None:
        tag_cols = [
            c
            for c in cols
            if c != ts_col and any(isinstance(r.get(c), str) for r in rows)
        ]
    ensure_table(engine, table_name, mdf, ts_col, tag_cols, options)
    Table(engine.spark, engine.catalog, table_name).write(mdf)
    return len(rows)


def start_ingest(
    engine: Engine,
    stream_df: DataFrame,
    table_name: str,
    *,
    ts_col: str,
    checkpoint_dir: str,
    tag_cols: list[str] | None = None,
    options: TableOptions | None = None,
    trigger_available_now: bool = True,
):
    """Start the checkpointed ingest query.  With availableNow the query
    drains the current source backlog and stops — the batch-maintenance
    pattern; pass False for a continuous micro-batch ingest."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ensure_table(engine, table_name, batch_df, ts_col, tag_cols, options)
        Table(engine.spark, engine.catalog, table_name).write(batch_df)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_KIND_TO_SPARK = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "int64": T.LongType(),
    "boolean": T.BooleanType(),
}
# widening order when a field's type differs across lines (int mixed with
# float samples → double; anything mixed with string → string)
_KIND_WIDTH = {"boolean": 0, "int64": 1, "double": 2, "string": 3}


def _py_kind(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "double"
    return "string"


def _probe_lines(it):
    """mapInPandas stage 1: per-partition schema discovery — emit the
    distinct (measurement, column, is_tag, kind) tuples seen in this
    partition's lines.  Output is tiny (one row per distinct column), so
    the driver-side collect is metadata-sized regardless of batch bytes."""
    import pandas as pd

    from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed

    for pdf in it:
        recs: set[tuple] = set()
        for text in pdf["line"]:
            if not text:
                continue
            for meas, batch in parse_line_protocol_typed(text).items():
                for row in batch.rows:
                    for k, v in row.items():
                        if k == "ts":
                            continue
                        is_tag = k in batch.tag_keys
                        recs.add((meas, k, is_tag, "string" if is_tag else _py_kind(v)))
        yield pd.DataFrame(
            list(recs), columns=["measurement", "col", "is_tag", "kind"]
        )


def _make_measurement_parser(measurement: str, colnames: list[str]):
    """mapInPandas stage 2: parse this partition's lines and emit the rows
    of one measurement, columns aligned to the (already ensured) table
    schema.  Parsing runs on executors; the driver never sees row data."""

    def parse(it):
        import pandas as pd

        from incubator_horaedb_spark.frontends.influxql import parse_line_protocol_typed

        for pdf in it:
            out: list[tuple] = []
            for text in pdf["line"]:
                if not text:
                    continue
                batch = parse_line_protocol_typed(text).get(measurement)
                if batch is None:
                    continue
                for row in batch.rows:
                    out.append(tuple(row.get(c) for c in colnames))
            yield pd.DataFrame(out, columns=colnames, dtype=object)

    return parse


def start_line_protocol_ingest(
    engine: Engine,
    stream_df: DataFrame,
    *,
    checkpoint_dir: str,
    line_col: str = "value",
    options: TableOptions | None = None,
    trigger_available_now: bool = True,
):
    """InfluxDB line-protocol write path as a streaming ingest
    (src/proxy/src/influxdb/types.rs:1-903: measurement → table, tags →
    TAG columns, fields → values, auto-create on first write).

    Fully distributed: each micro-batch is (1) schema-probed with a
    mapInPandas pass whose output is one row per distinct column — only
    that metadata reaches the driver, which runs auto-create/evolve — then
    (2) parsed and appended per measurement with a second mapInPandas pass
    aligned to the ensured schema.  The batch is cached across the passes,
    so a k-measurement batch costs k cheap re-parses of cached lines, not
    k source reads.  Unlike the reference's proxy (proxy/src/write.rs),
    which builds rows on the receiving node, no row data ever funnels
    through the driver — batches far larger than driver memory ingest
    fine."""
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.table import Table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        lines = (
            batch_df.select(F.col(line_col).alias("line"))
            .filter(F.col("line").isNotNull() & (F.col("line") != ""))
            .persist()
        )
        try:
            probe = lines.mapInPandas(
                _probe_lines,
                schema="measurement string, col string, is_tag boolean, kind string",
            ).collect()
            if not probe:
                return
            # resolve per-(measurement, col): tag wins over field reading
            # (a key can't be both in one line set), widen mixed kinds
            plan: dict[str, dict[str, tuple[bool, str]]] = {}
            for r in probe:
                cols = plan.setdefault(r["measurement"], {})
                prev = cols.get(r["col"])
                if prev is None:
                    cols[r["col"]] = (r["is_tag"], r["kind"])
                else:
                    is_tag = prev[0] or r["is_tag"]
                    kind = max(prev[1], r["kind"], key=_KIND_WIDTH.__getitem__)
                    cols[r["col"]] = (is_tag, "string" if is_tag else kind)
            for measurement, cols in plan.items():
                tags = sorted(c for c, (t, _) in cols.items() if t)
                fields = sorted(c for c, (t, _) in cols.items() if not t)
                schema_cols = [ColumnSchema(name="ts", kind="timestamp")] + [
                    ColumnSchema(name=c, kind=cols[c][1], is_tag=cols[c][0])
                    for c in tags + fields
                ]
                _ensure_table_columns(engine, measurement, schema_cols, "ts", options)
                colnames = ["ts"] + tags + fields
                out_schema = T.StructType(
                    [T.StructField("ts", T.LongType(), True)]
                    + [
                        T.StructField(c, _KIND_TO_SPARK[cols[c][1]], True)
                        for c in tags + fields
                    ]
                )
                rows_df = lines.mapInPandas(
                    _make_measurement_parser(measurement, colnames), schema=out_schema
                ).withColumn("ts", F.timestamp_millis(F.col("ts")))
                Table(engine.spark, engine.catalog, measurement).write(rows_df)
        finally:
            lines.unpersist()

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ensure_table_columns(
    engine: Engine,
    table_name: str,
    columns: list[ColumnSchema],
    ts_col: str,
    options: TableOptions | None,
) -> None:
    """ensure_table over an explicit column list (no sample DataFrame
    needed) — auto-create or add missing columns (write.rs:176-260)."""
    if not engine.catalog.exists(table_name):
        engine.catalog.create_table(
            table_name,
            TableSchema(columns=columns, timestamp_column=ts_col),
            options,
            if_not_exists=True,
        )
        return
    meta = engine.catalog.get(table_name)
    known = {c.name for c in meta.schema.columns}
    schema = meta.schema
    for c in columns:
        if c.name not in known:
            schema = schema.add_column(
                ColumnSchema(name=c.name, kind=c.kind, is_tag=c.is_tag)
            )
    if schema is not meta.schema:
        meta.schema = schema
        engine.catalog.update(meta)
