"""Table write/read paths — the Spark rendering of the analytic engine.

Write path (replaces WAL → memtable → flush,
src/analytic_engine/src/instance/write.rs):
- every write batch gets one monotonic ``__seq`` from the catalog (the
  SequenceNumber analogue — dedup order is total per table);
- tsid-mode tables get the hidden ``tsid`` column = xxhash64 of tag values
  (TsidBuilder, src/interpreters/src/insert.rs:179-216);
- rows land in time partitions ``__segment`` = ts DIV segment_duration
  (segment organization, table_options.rs:54; duration sampled from the
  first batch via the reference ladder when unset, sampler.rs:42-51);
- parquet append partitioned by ``__segment`` — at 100 TB the partition
  column is what makes time-range queries prune (predicate.rs TimeRange →
  partition pruning).

Read path (replaces MergeIterator/DedupIterator/ChainIterator,
src/analytic_engine/src/row_iter/):
- Append tables: plain scan (ChainIterator — concatenation, no merge);
- Overwrite tables: keep the newest row per primary key —
  ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __seq DESC) = 1
  (merge.rs:126 need_dedup + dedup.rs keep-newest-sequence);
- TTL: rows older than now - ttl are filtered out (and their whole
  segments pruned) when enable_ttl (table_options.rs:60).

Compaction (compaction/picker.rs): ``compact`` rewrites every live time
partition's many small files into few, applying the dedup so read
amplification drops — the TimeWindow picker analogue.  One Spark job
rewrites all of a table's segments: it reads the data dir once, shuffles
each segment into ``n_output_files(segment bytes)`` files and writes them
partitioned by segment into a staging dir, so the fixed per-job cost is
paid once per table, not once per segment; each segment is then swapped in
by its own rename-aside commit.  The unit of rewrite and TTL expiry is the
leaf segment directory — ``__segment=s``, or ``__partition=p/__segment=s``
on key- and random-partitioned tables.
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_horaedb_spark import fsops
from incubator_horaedb_spark.catalog import Catalog, pick_segment_duration_ms
from incubator_horaedb_spark.functions.hashing import tsid_expr
from incubator_horaedb_spark.partition import (
    PARTITION_COLUMN,
    key_partition_expr,
    pruned_filter,
    random_partition_expr,
)
from incubator_horaedb_spark.schema import SEGMENT_COLUMN, SEQ_COLUMN, TSID_COLUMN


# Python value types a batch column of each Spark type accepts: exact
# types, as createDataFrame's verifySchema checks them (a bool is not an
# int, an int is not a float).  A string column takes any value as its
# text, as createDataFrame coerces it (a bool as 'true'/'false').
_BATCH_TYPES = {
    "long": (int,),
    "double": (float,),
    "boolean": (bool,),
    "binary": (bytes, bytearray),
}


def _batch_column(field: T.StructField, values: list) -> list:
    kind = field.dataType.typeName()
    if kind == "string":
        return [
            v if v is None or type(v) is str
            else str(v).lower() if isinstance(v, bool) else str(v)
            for v in values
        ]
    accepts = _BATCH_TYPES[kind]
    for v in values:
        if v is None:
            continue
        if type(v) not in accepts:
            raise TypeError(
                f"column {field.name!r} ({field.dataType.simpleString()}) "
                f"can not accept {v!r} of type {type(v).__name__}"
            )
        if kind == "long" and not -(1 << 63) <= v < 1 << 63:
            raise ValueError(f"column {field.name!r}: {v} is out of the bigint range")
    return values


def local_batch(spark: SparkSession, columns: list[list], schema: T.StructType) -> DataFrame:
    """One write batch (``columns[i]`` holds the values of
    ``schema.fields[i]``) as an Arrow table: Spark plans it as a
    LocalRelation, so the batch needs no RDD and no Python worker.  Each
    Arrow column is built with its field's explicit type after the checks
    of ``_batch_column``, because Arrow would silently truncate a float
    into an int64 column; a value that does not fit raises."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    arrays = [
        pa.array(_batch_column(f, values), type=to_arrow_type(f.dataType))
        for f, values in zip(schema.fields, columns)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, names=schema.names), schema)


class Table:
    def __init__(self, spark: SparkSession, catalog: Catalog, name: str):
        self.spark = spark
        self.catalog = catalog
        self.name = name

    @property
    def meta(self):
        return self.catalog.get(self.name)

    # ------------------------------------------------------------- write --
    def write(self, df: DataFrame) -> int:
        """Append one batch; returns the assigned sequence number."""
        meta = self.meta
        schema = meta.schema

        # align to declared schema: missing columns → default value / NULL
        for col in schema.columns:
            if col.name not in df.columns:
                # defaults are SQL expression text (may reference earlier
                # columns, e.g. `c5 uint32 default c3*2 + 1`) — evaluated in
                # schema order so prior defaults are in scope
                dv = col.default_value
                default = (F.expr(dv) if isinstance(dv, str) else F.lit(dv)).cast(
                    col.spark_type
                )
                df = df.withColumn(col.name, default)
        df = df.select(
            *[F.col(c.name).cast(c.spark_type).alias(c.name) for c in schema.columns]
        )

        if schema.tsid_mode:
            tags = schema.tag_columns
            tsid = tsid_expr(tags) if tags else F.lit(0).cast("long")
            df = df.withColumn(TSID_COLUMN, tsid)

        # First-flush sampling (sampler.rs).  Two independent decisions:
        #   - segment duration, when not declared in DDL;
        #   - the APPEND-table SST sort key (PrimaryKeySampler,
        #     sampler.rs:271-362): the 2 lowest-NDV key-kind columns
        #     (MAX_SUGGEST_PRIMARY_KEY_NUM, sampler.rs:62; floats/
        #     timestamps ineligible, datum.rs is_key_kind) ascending, then
        #     tsid + timestamp.  Low-cardinality-first sort keys make
        #     row-group min/max stats selective ("beneficial for sst
        #     prune"); Overwrite tables are excluded exactly like
        #     support_sample_pk (table_options.rs:521-526).
        # The sort-key sampling runs on the FIRST FLUSH regardless of an
        # explicit segment_duration (sampler.rs parity — previously it was
        # nested under the duration branch and explicit-duration tables
        # never got a key, ADVICE r02), and ONLY on the first flush, so
        # later writes never pay the NDV aggregates.
        # NB: re-read meta before persisting — a stale write-back here
        # would clobber the seq counter allocated below (lost update).
        need_duration = meta.options.segment_duration_ms is None
        sample_pk = (
            meta.next_seq == 1
            and meta.options.update_mode == "APPEND"
            and meta.options.sampled_sort_key is None
            and not schema.primary_key
        )
        elig = [
            c.name
            for c in schema.columns
            if sample_pk
            and c.kind not in ("double", "float", "timestamp")
            and c.name != schema.timestamp_column
        ]
        if need_duration or (sample_pk and elig):
            aggs = [
                F.min(F.unix_millis(F.col(schema.timestamp_column))),
                F.max(F.unix_millis(F.col(schema.timestamp_column))),
            ] + [F.approx_count_distinct(c).alias(f"__ndv_{c}") for c in elig]
            sampled = df.agg(*aggs).first()
            lo, hi = sampled[0], sampled[1]
            span = (hi - lo) if lo is not None else 0
            meta = self.meta
            changed = False
            if need_duration and meta.options.segment_duration_ms is None:
                meta.options.segment_duration_ms = pick_segment_duration_ms(max(span, 1))
                changed = True
            if sample_pk and elig and meta.options.sampled_sort_key is None:
                ndv = list(zip(elig, sampled[2:]))
                picked = [c for c, _ in sorted(ndv, key=lambda kv: kv[1])[:2]]
                tail = [TSID_COLUMN] if schema.tsid_mode else []
                meta.options.sampled_sort_key = picked + tail + [schema.timestamp_column]
                changed = True
            if changed:
                self.catalog.update(meta)

        seq = self.catalog.allocate_seq(self.name)
        df = df.withColumn(SEQ_COLUMN, F.lit(seq).cast("long"))

        seg_ms = meta.options.segment_duration_ms
        df = df.withColumn(
            SEGMENT_COLUMN,
            (F.unix_millis(F.col(schema.timestamp_column)) / seg_ms).cast("long"),
        )
        part_cols = self._layout_columns(meta.options)
        if meta.options.partition_keys:
            # key-partitioned table (partition/rule/key.rs): hash bucket col
            df = df.withColumn(
                PARTITION_COLUMN,
                key_partition_expr(meta.options.partition_keys, meta.options.num_partitions),
            )
        elif PARTITION_COLUMN in part_cols:
            # random write scatter (partition/rule/random.rs:40-48); reads
            # always fan out to every partition (random.rs:50-53)
            df = df.withColumn(
                PARTITION_COLUMN, random_partition_expr(meta.options.num_partitions)
            )
        if meta.options.sampled_sort_key:
            # cluster rows for the sampled key inside each task's output
            # files: no shuffle, but every row group's min/max stats on the
            # low-NDV lead columns become selective (SST prune analogue)
            df = df.sortWithinPartitions(
                *part_cols, *[c for c in meta.options.sampled_sort_key if c in df.columns]
            )
        (
            df.write.mode("append")
            .option("compression", meta.options.compression.lower())
            .partitionBy(*part_cols)
            .parquet(self.catalog.data_dir(self.name))
        )
        return seq

    @staticmethod
    def _layout_columns(options) -> list[str]:
        """Directory partition columns, outermost first: key- and
        random-partitioned tables nest segments under ``__partition``."""
        if options.partition_keys or (
            options.partition_method == "random" and options.num_partitions > 1
        ):
            return [PARTITION_COLUMN, SEGMENT_COLUMN]
        return [SEGMENT_COLUMN]

    # -------------------------------------------------------------- read --
    def last_seq(self) -> int:
        """Highest sequence number allocated so far (0 before any write) —
        the snapshot token a reader passes back as ``as_of_seq``."""
        return self.meta.next_seq - 1

    def read(
        self,
        now_ms: int | None = None,
        with_internal: bool = False,
        as_of_seq: int | None = None,
    ) -> DataFrame:
        """The dedup-view read (SURVEY §7.1): Append → chain, Overwrite →
        newest-per-primary-key.

        ``as_of_seq`` is the sequence-snapshot read (instance/read.rs: a
        read pins the memtable+SST view at a sequence; rows from later
        writes are invisible).  Batches carry one monotonic ``__seq``
        each, so filtering ``__seq <= as_of_seq`` BEFORE the dedup window
        reconstructs the table state after write ``as_of_seq`` — the
        Overwrite dedup picks the newest surviving version as of that
        point, not the newest ever.  Snapshot retention follows the
        reference's compaction semantics: ``compact()`` applies the
        Overwrite dedup while rewriting, reclaiming superseded versions
        (an LSM compaction GCs versions below the snapshot watermark when
        no live read pins them), so a snapshot older than the last
        compaction sees only the versions that survived it.  Concurrent
        reader-vs-maintenance visibility is covered separately by the
        maintenance race gates."""
        meta = self.meta
        schema = meta.schema
        data = self.catalog.data_dir(self.name)
        has_data = bool(
            fsops.list_dirs(self.spark, data, prefix=f"{SEGMENT_COLUMN}=")
            or fsops.list_dirs(self.spark, data, prefix=f"{PARTITION_COLUMN}=")
        )
        if not has_data:
            df = self.spark.createDataFrame([], schema.spark_schema(include_internal=True))
        else:
            df = self.spark.read.schema(
                self._read_schema()
            ).parquet(data)

        if as_of_seq is not None:
            df = df.filter(F.col(SEQ_COLUMN) <= as_of_seq)

        if meta.options.enable_ttl:
            now_ms = int(time.time() * 1000) if now_ms is None else now_ms
            cutoff = now_ms - meta.options.ttl_ms
            df = df.filter(F.unix_millis(F.col(schema.timestamp_column)) >= cutoff)

        if meta.options.update_mode == "OVERWRITE":
            df = _keep_newest(df, schema.effective_primary_key)

        keep = [c.name for c in schema.columns]
        if with_internal:
            keep = keep + ([TSID_COLUMN] if schema.tsid_mode else []) + [SEQ_COLUMN]
        return df.select(*keep)

    def _read_schema(self):
        """Explicit read schema = current table schema (+ internals) so old
        segments written before an ALTER ADD COLUMN read the new column as
        NULL — schema evolution without mergeSchema scans."""
        meta = self.meta
        s = meta.schema.spark_schema(include_internal=True)
        types = {PARTITION_COLUMN: T.IntegerType(), SEGMENT_COLUMN: T.LongType()}
        extra = [
            T.StructField(c, types[c], True) for c in self._layout_columns(meta.options)
        ]
        return T.StructType(s.fields + extra)

    def read_time_range(
        self,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
        now_ms: int | None = None,
    ) -> DataFrame:
        """Time-range read with SEGMENT pruning (predicate.rs:180-197
        TimeRange → storage pruning; asserted by query-plan.sql's
        'should not include SST' cases).

        A plain ``read().filter(t >= lo)`` cannot prune: the partition
        column is ``__segment = ts DIV segment_duration`` and Catalyst will
        not invert that relationship.  This read derives the segment bounds
        from the time bounds (DIV is monotone, so t ∈ [lo, hi) ⇒ __segment
        ∈ [lo DIV d, (hi-1) DIV d]) and filters BOTH columns BELOW the
        dedup window — the segment predicate prunes partition directories
        at file listing, the timestamp predicate trims the edge segments
        row-exactly.  Below-window filtering is dedup-safe because the
        timestamp column is part of the effective primary key
        (schema.rs:628): every version of a key shares its timestamp, hence
        its segment."""
        meta = self.meta
        schema = meta.schema
        seg_ms = meta.options.segment_duration_ms
        data = self.catalog.data_dir(self.name)
        if not fsops.list_dirs(self.spark, data):
            return self.read(now_ms=now_ms)
        df = self.spark.read.schema(self._read_schema()).parquet(data)
        if seg_ms:
            seg = F.col(SEGMENT_COLUMN)
            if lo_ms is not None:
                df = df.filter(seg >= lo_ms // seg_ms)
            if hi_ms is not None:
                df = df.filter(seg <= (hi_ms - 1) // seg_ms)
        ts_ms = F.unix_millis(F.col(schema.timestamp_column))
        if lo_ms is not None:
            df = df.filter(ts_ms >= lo_ms)
        if hi_ms is not None:
            df = df.filter(ts_ms < hi_ms)
        if meta.options.enable_ttl:
            now = int(time.time() * 1000) if now_ms is None else now_ms
            df = df.filter(ts_ms >= now - meta.options.ttl_ms)
        if meta.options.update_mode == "OVERWRITE":
            df = _keep_newest(df, schema.effective_primary_key)
        return df.select(*[c.name for c in schema.columns])

    def read_pruned(
        self,
        filters: dict,
        now_ms: int | None = None,
        lo_ms: int | None = None,
        hi_ms: int | None = None,
    ) -> DataFrame:
        """Key-partition-pruned read: equality/in-list filters over the
        partition keys become a ``__partition IN (...)`` predicate that
        Spark turns into partition directory pruning
        (locate_partitions_for_read, key.rs:192-230).  Optional time
        bounds compose with it the same way ``read_time_range`` does —
        derived ``__segment`` bounds prune the time dimension of the
        directory layout, the row-exact timestamp predicate trims edge
        segments — so a tag-equality + time-range query (the canonical
        TSDB shape, query-plan.sql:38-66) lists only the
        (partition x segment) directories it touches."""
        meta = self.meta
        if not meta.options.partition_keys:
            df = self.read(now_ms=now_ms) if lo_ms is None and hi_ms is None else (
                self.read_time_range(lo_ms=lo_ms, hi_ms=hi_ms, now_ms=now_ms)
            )
            for c, v in filters.items():
                df = df.filter(F.col(c).isin(list(v)) if isinstance(v, (list, tuple, set)) else (F.col(c) == v))
            return df
        cond = pruned_filter(
            self.spark, meta.options.partition_keys, meta.options.num_partitions, filters
        )
        # apply the partition filter below the dedup window so pruning
        # reaches the scan (dedup by pk is per-partition-key-safe: all rows
        # of a pk share the partition id)
        schema = meta.schema
        df = self.spark.read.schema(self._read_schema()).parquet(
            self.catalog.data_dir(self.name)
        ).filter(cond)
        seg_ms = meta.options.segment_duration_ms
        if seg_ms:
            seg = F.col(SEGMENT_COLUMN)
            if lo_ms is not None:
                df = df.filter(seg >= lo_ms // seg_ms)
            if hi_ms is not None:
                df = df.filter(seg <= (hi_ms - 1) // seg_ms)
        ts_ms_col = F.unix_millis(F.col(schema.timestamp_column))
        if lo_ms is not None:
            df = df.filter(ts_ms_col >= lo_ms)
        if hi_ms is not None:
            df = df.filter(ts_ms_col < hi_ms)
        if meta.options.enable_ttl:
            now = int(__import__("time").time() * 1000) if now_ms is None else now_ms
            df = df.filter(
                F.unix_millis(F.col(schema.timestamp_column)) >= now - meta.options.ttl_ms
            )
        if meta.options.update_mode == "OVERWRITE":
            df = _keep_newest(df, schema.effective_primary_key)
        return df.select(*[c.name for c in schema.columns])

    # -------------------------------------------------------- maintenance --
    # All three maintenance ops route list/delete/rename through the Hadoop
    # FileSystem API (fsops) so they run unchanged over object storage —
    # os.listdir/shutil surgery only exists on a POSIX local disk — and
    # size rewrites to ~128 MB output files via repartition[ByRange]
    # instead of coalesce(1), which at 100 TB would funnel a hot segment
    # through one single-threaded task (compaction/picker.rs sizes SST
    # outputs the same way).

    _SEGMENT_DIR_RE = re.compile(f"^{SEGMENT_COLUMN}=\\d+$")
    _PARTITION_DIR_RE = re.compile(f"^{PARTITION_COLUMN}=\\d+$")

    def _leaf_dirs(self, root: str) -> list[str]:
        """Paths, relative to ``root``, of the segment directories under it:
        ``__segment=<digits>``, or ``__partition=<digits>/__segment=<digits>``
        on partitioned tables.

        Strictly digits — anything else (a crashed rewrite's leftovers, a
        foreign file) is not a segment and must not reach ttl_expire's
        int() or the rewrite."""
        out = []
        for name in fsops.list_dirs(self.spark, root):
            if self._SEGMENT_DIR_RE.match(name):
                out.append(name)
            elif self._PARTITION_DIR_RE.match(name):
                out.extend(
                    f"{name}/{seg}"
                    for seg in fsops.list_dirs(
                        self.spark, f"{root}/{name}", prefix=f"{SEGMENT_COLUMN}="
                    )
                    if self._SEGMENT_DIR_RE.match(seg)
                )
        return out

    def _segment_dirs(self) -> list[tuple[str, str]]:
        """(relative name, full path) of every leaf segment directory — the
        unit of TTL expiry and of the rewrite commit."""
        data = self.catalog.data_dir(self.name)
        return [(seg, f"{data}/{seg}") for seg in self._leaf_dirs(data)]

    # Rewrite staging/rollback areas.  Dot-prefixed so Spark's file listing
    # (which skips '.'/'_'-prefixed paths) never discovers them as data —
    # a crashed rewrite can leave them behind without polluting reads or
    # partition discovery.
    def _tmp_dir(self, seg: str = "") -> str:
        return f"{self.catalog.data_dir(self.name)}/.rewrite-tmp/{seg}".rstrip("/")

    def _aside_dir(self, seg: str = "") -> str:
        return f"{self.catalog.data_dir(self.name)}/.rewrite-old/{seg}".rstrip("/")

    def _recover_stale_rewrites(self) -> None:
        """Crash recovery before any rewrite: drop half-written tmp output;
        for each aside segment, restore it if the live directory is missing
        (a crash hit between the two commit renames), else it is a
        committed rewrite whose cleanup delete was lost — drop it."""
        data = self.catalog.data_dir(self.name)
        fsops.delete(self.spark, self._tmp_dir())
        for seg in self._leaf_dirs(self._aside_dir()):
            live = f"{data}/{seg}"
            aside = self._aside_dir(seg)
            if fsops.exists(self.spark, live):
                fsops.delete(self.spark, aside)
            elif not fsops.rename(self.spark, aside, live):
                raise IOError(f"recovery rename failed: {aside} -> {live}")
        # only emptied __partition=p parents can remain
        fsops.delete(self.spark, self._aside_dir())

    def _commit_rewrite(self, src: str, tmp: str) -> None:
        """Swap the rewritten directory in: rename the live segment aside,
        rename the tmp output into place, then delete the aside copy.

        Real guarantee (not stronger): on HDFS/local each rename is atomic,
        so a racing reader's listing sees the old segment, the new segment,
        or — for the one-metadata-op window between the two renames — the
        segment absent; never a merge of old and new files.  A scan that
        already PLANNED over pre-rewrite files and executes after the swap
        fails loudly (Spark FILE_NOT_EXIST) rather than returning partial
        data — optimistic concurrency: wrong answers are impossible,
        conflicting readers retry (tests/test_maintenance_commit.py).  On
        S3A rename is copy+delete, so the absent window extends over the
        copy; the aside copy is a rollback path either way — a crash at
        any point is recoverable by _recover_stale_rewrites (the reference
        gets its manifest-flip guarantee from a meta-store pointer, which
        directory-granular storage cannot replicate; catalog.py documents
        that boundary).  Every FS call's boolean is checked: Hadoop
        reports most rename failures by returning false, and a silently
        failed rename here would lose the segment while compact() counts
        it as rewritten."""
        seg = src[len(self.catalog.data_dir(self.name)) + 1 :]
        aside = self._aside_dir(seg)
        fsops.mkdirs(self.spark, aside.rsplit("/", 1)[0])
        if not fsops.rename(self.spark, src, aside):
            raise IOError(f"rewrite commit: rename {src} -> {aside} failed")
        if not fsops.rename(self.spark, tmp, src):
            # roll back so the segment is not lost, then fail loudly
            if not fsops.rename(self.spark, aside, src):
                raise IOError(
                    f"rewrite commit: rename {tmp} -> {src} failed AND rollback "
                    f"{aside} -> {src} failed; segment preserved at {aside}"
                )
            raise IOError(f"rewrite commit: rename {tmp} -> {src} failed (rolled back)")
        if not fsops.delete(self.spark, aside):
            raise IOError(f"rewrite commit: cleanup delete {aside} failed")

    def _rewrite(self, target_file_bytes: int, order=(), dedup: bool = False) -> int:
        """Rewrite every live segment in ONE Spark job, then commit each
        segment by its own rename-aside swap.  Returns segments rewritten.

        The data dir is read once with the table's read schema, filtered to
        the listed segments (a segment created after the listing is left
        alone), and written ``partitionBy`` the layout columns into the
        staging dir, which lands each segment exactly at its ``_tmp_dir``.
        Each segment gets at most ``n_output_files(segment bytes)`` files:
        rows are shuffled on (segment, pmod(xxhash64(pk), nfiles)), so a
        small segment is one task and one file.  ``order`` (column
        expressions) sorts rows inside each file; when a segment needs
        several files, rows are range-partitioned on (segment, order)
        instead, so each file covers a disjoint key range and row-group
        min/max stats prune across files too.  ``dedup`` keeps the newest
        version of each primary key (the Overwrite read dedup, applied once
        at rest)."""
        self._recover_stale_rewrites()
        segments = self._segment_dirs()
        if not segments:
            return 0
        meta = self.meta
        layout = self._layout_columns(meta.options)
        pk = meta.schema.effective_primary_key
        nfiles = {
            seg: fsops.n_output_files(fsops.dir_bytes(self.spark, src), target_file_bytes)
            for seg, src in segments
        }
        df = self.spark.read.schema(self._read_schema()).parquet(
            self.catalog.data_dir(self.name)
        )
        columns = df.columns
        df = df.filter(_any_segment(nfiles))
        keys = [f"__order{i}" for i in range(len(order))]
        df = df.withColumns(dict(zip(keys, order)))
        total = sum(nfiles.values())
        if keys and total > len(nfiles):
            if dedup:
                df = _keep_newest(df, layout + pk)
            out = df.repartitionByRange(total, *layout, *keys)
        else:
            dist = layout
            if total > len(nfiles):
                bucket = F.lit(0)
                for seg, n in nfiles.items():
                    if n > 1:
                        bucket = F.when(
                            _segment_is(seg), F.pmod(F.xxhash64(*pk), F.lit(n))
                        ).otherwise(bucket)
                df = df.withColumn("__bucket", bucket)
                dist = layout + ["__bucket"]
            out = df.repartition(total, *dist)
            if dedup:
                # the window's clustering contains the repartition keys, so
                # the dedup reuses that shuffle instead of adding one
                out = _keep_newest(out, dist + pk)
        if keys:
            out = out.sortWithinPartitions(*layout, *keys)
        (
            out.select(*columns)
            .write.mode("overwrite")
            .partitionBy(*layout)
            .parquet(self._tmp_dir())
        )
        # a segment that held no rows wrote nothing and is left as it is
        written = set(self._leaf_dirs(self._tmp_dir()))
        done = [(seg, src) for seg, src in segments if seg in written]
        for seg, src in done:
            self._commit_rewrite(src, self._tmp_dir(seg))
        fsops.delete(self.spark, self._tmp_dir())
        return len(done)

    def compact(self, target_file_bytes: int = fsops.TARGET_FILE_BYTES) -> int:
        """Rewrite every time partition into compacted, sort-clustered files,
        applying Overwrite dedup — the TimeWindow compaction analogue.
        Returns the number of rewritten partitions."""
        meta = self.meta
        return self._rewrite(
            target_file_bytes,
            order=[F.col(c) for c in meta.options.sampled_sort_key or []],
            dedup=meta.options.update_mode == "OVERWRITE",
        )

    @staticmethod
    def zorder_column(cols: list[str], bits: int = 16):
        """Morton (Z-order) interleave of up to 3 integer columns — the
        multi-dimensional clustering key (public technique: Delta/Iceberg
        OPTIMIZE ZORDER).  Static bit expansion stays inside whole-stage
        codegen; len(cols)*bits ≤ 48 keeps the value in int64."""
        assert 1 <= len(cols) <= 3 and len(cols) * bits <= 48
        z = F.lit(0).cast("long")
        for j in range(bits):
            for k, c in enumerate(cols):
                bit = F.shiftright(F.col(c).cast("long"), j).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(bit, j * len(cols) + k)
        return z

    def optimize_zorder(
        self,
        cols: list[str],
        bits: int = 16,
        target_file_bytes: int = fsops.TARGET_FILE_BYTES,
    ) -> int:
        """Rewrite every time partition clustered by the Z-order key of
        ``cols`` — after this, row-group min/max stats prune scans on ALL
        the z-ordered columns, not just the lead sort column.  A segment
        that needs several files is range-partitioned on the z-key, so each
        file owns a disjoint Morton range (the Delta/Iceberg OPTIMIZE
        ZORDER shape); the sort never crosses a segment, so at scale there
        is no global sort.  Returns partitions rewritten."""
        meta = self.meta
        for c in cols:
            kind = meta.schema.column(c).kind
            if kind in ("double", "float", "string", "timestamp", "varbinary"):
                raise ValueError(f"zorder column {c!r} must be integer-kind, got {kind}")
        return self._rewrite(target_file_bytes, order=[self.zorder_column(cols, bits)])

    def ttl_expire(self, now_ms: int | None = None) -> int:
        """Drop whole segments beyond TTL (segment-level TTL purge —
        src/analytic_engine retention).  Metadata-only: one LIST plus one
        recursive delete per expired segment, no data read.  Returns
        segments dropped."""
        meta = self.meta
        if not meta.options.enable_ttl or meta.options.segment_duration_ms is None:
            return 0
        now_ms = int(time.time() * 1000) if now_ms is None else now_ms
        cutoff_seg = (now_ms - meta.options.ttl_ms) // meta.options.segment_duration_ms
        dropped = 0
        for seg, src in self._segment_dirs():
            seg_val = int(seg.rsplit("=", 1)[1])
            # a segment is expired only when its whole range is expired
            if seg_val + 1 <= cutoff_seg:
                fsops.delete(self.spark, src)
                dropped += 1
        return dropped


def _segment_is(seg: str):
    """Row predicate selecting one leaf segment, e.g. ``__partition=1/__segment=7``."""
    cond = None
    for part in seg.split("/"):
        col, value = part.split("=", 1)
        c = F.col(col) == int(value)
        cond = c if cond is None else cond & c
    return cond


def _any_segment(segments):
    """Row predicate over the layout columns selecting exactly ``segments``
    — partition pruning keeps the scan to their directories."""
    by_parent: dict[str, list[int]] = {}
    for seg in segments:
        parent, _, leaf = seg.rpartition("/")
        by_parent.setdefault(parent, []).append(int(leaf.split("=", 1)[1]))
    cond = None
    for parent, values in by_parent.items():
        c = F.col(SEGMENT_COLUMN).isin(values)
        if parent:
            c = _segment_is(parent) & c
        cond = c if cond is None else cond | c
    return cond


def _keep_newest(df: DataFrame, keys: list[str]) -> DataFrame:
    """Newest ``__seq`` row per ``keys`` — the Overwrite dedup."""
    w = Window.partitionBy(*keys).orderBy(F.col(SEQ_COLUMN).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
