"""LLM-data-pipeline operators as correctness-gated queries: dedup family,
similarity search, text analysis.  Each Spark query and its DuckDB oracle
are rendered from the SAME template (operators/dialect.py), so the
portable-hash arithmetic is provably identical on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from incubator_horaedb_spark.operators import dedup, pipeline, similarity, text
from incubator_horaedb_spark.operators.dialect import DUCK, SPARK
from incubator_horaedb_spark.querybank.registry import load, register, widen_for_compute


def _sql_query(name: str, template_fn, **kw):
    tables = kw.pop("_tables", ("documents",))
    # _widen: tables whose view is compute-widened (widen_for_compute) —
    # for the dot-product scans (bruteforce/MIPS corpus side) whose
    # per-byte cost is interpreted-HOF-class, not scan-class (r13: the
    # sf1 corpus×queries stage was 1.2 s of single-task CPU).  Results
    # are order-independent (unique rank tie-breaks / pure projections).
    widen_tables = set(kw.pop("_widen", ()))
    spark_sql = template_fn(SPARK, **kw)
    duck_sql = template_fn(DUCK, **kw)

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        for t in tables:
            df = load(spark, sf_dir, t)
            if t in widen_tables:
                df = widen_for_compute(df)
            df.createOrReplaceTempView(t)
        return spark.sql(spark_sql)

    q.__name__ = name
    q.__doc__ = f"{template_fn.__module__}.{template_fn.__name__} — see operator docstring."
    register(name, oracle=duck_sql)(q)
    return q


# --- dedup family ---------------------------------------------------------
# The LSH pipelines are STAGED on the Spark side: the shingle/signature
# subtrees are cached and exposed as temp views because Spark inlines CTEs
# (a one-shot query recomputes the interpreted hash subtree once per
# reference, ~7× for minhash).  The DuckDB oracle runs the one-shot SQL —
# DuckDB materializes CTEs — built from the SAME fragments.
_sql_query("dedup_exact", dedup.exact_dedup_sql)


def _stage(df: DataFrame, view: str) -> DataFrame:
    """Cache ``df`` as ``view`` and materialize it NOW.  The cache is an
    optimizer barrier (stops projection collapse from re-inlining expensive
    HOF subtrees) — but a lazy cache is filled during the *final* query's
    job, where N concurrent scans of the not-yet-filled InMemoryRelation
    race and each recompute the subtree (measured: minhash 1.9s lazy vs
    1.2s with eager sequential fills at sf0.1).  One count() per stage
    makes every downstream scan a cache read."""
    df.cache().createOrReplaceTempView(view)
    df.count()
    return df


_SHINGLE_STATE: dict = {"sf_dir": None}


def _staged_shingles(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> str:
    """Materialize documents → token hashes → distinct shingle hashes as
    ONE SHARED cached view pair (``__shingle_tokh``/``__shingle_hs``) and
    return the hs view name.  Two stages, because CTE inlining would
    otherwise re-evaluate the O(chars) token-hash expression at each
    reference (measured 1.8s → 0.57s for the stage at sf0.1).  The scan is
    widened first — the token-hash fold is interpreted per-char work that
    must not run on one input split (widen_for_compute docstring).

    The stage content is IDENTICAL for every dedup family (same tokenizer,
    same shingle k), so minhash, simhash, ngram-Jaccard, the CC pipeline,
    decontamination and curation all consume the same views — a session
    that runs several dedup passes (the curation norm at 100 TB: shingle
    once, dedup many ways) pays the token-hash scan ONCE.  Rebuilt only
    when ``sf_dir`` changes or the cache was dropped (bench cold-start).

    ``materialize=False`` skips the eager count on the FINAL stage only:
    callers whose next action scans the shingle view exactly once (the
    skew-detection agg) let that action fill the cache instead — one fewer
    job.  The tokh stage always materializes eagerly (hs references it 4×;
    concurrent scans of an unfilled cache race and recompute)."""
    hs, tokh = "__shingle_hs", "__shingle_tokh"
    if _SHINGLE_STATE.get("sf_dir") == sf_dir:
        try:
            if spark.catalog.isCached(hs) and spark.catalog.isCached(tokh):
                # a prior materialize=False caller may have registered the
                # hs cache lazily (marked but unfilled); an eager caller
                # arriving later must still fill it, or its multi-reference
                # job re-creates the concurrent-scan recompute race this
                # function exists to prevent
                if materialize and not _SHINGLE_STATE.get("filled"):
                    spark.table(hs).count()
                    _SHINGLE_STATE["filled"] = True
                return hs
        except Exception:
            pass  # view gone (new session) — rebuild below
    _SHINGLE_STATE["sf_dir"] = None
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(dedup.tokh_select(SPARK, "documents")), tokh)
    df = spark.sql(dedup.hs_from_tokh_select(SPARK, tokh)).cache()
    df.createOrReplaceTempView(hs)
    if materialize:
        df.count()
    _SHINGLE_STATE["sf_dir"] = sf_dir
    _SHINGLE_STATE["filled"] = bool(materialize)
    return hs


def _stage_lazy(spark: SparkSession, sql: str, view: str) -> DataFrame:
    """Cache + register WITHOUT an eager fill — for stages whose next
    action is a single sequential scan (which fills the cache race-free)."""
    df = spark.sql(sql).cache()
    df.createOrReplaceTempView(view)
    return df


def _gated_src(
    spark: SparkSession, body_sql: str, keys: list[str], view: str, cap: int
) -> str | None:
    """Adaptive join-skew gate (AQE-skew-join spirit): ONE cheap partial/
    final agg detects over-cap hot keys in the candidate-join source.  In
    the common case the hot set is EMPTY and the caller keeps its original
    inline plan — the gate costs only the detection agg.  When boilerplate
    hot keys exist, the source is materialized minus those keys (broadcast
    anti-join against the metadata-sized hot list — at most n_rows/cap keys
    can exceed the cap) and the gated view name is returned.  The one-shot
    oracle rendering keeps the equivalent gate in SQL
    (pairs_from_bands_ctes / ngram_pairs_from), so both engines compute the
    same definition."""
    from pyspark.sql import functions as F

    klist = ", ".join(keys)
    hot = spark.sql(
        f"SELECT {klist} FROM ({body_sql}) __g GROUP BY {klist} "
        f"HAVING count(*) > {cap}"
    ).collect()
    if not hot:
        return None
    gated = spark.sql(body_sql).join(
        F.broadcast(spark.createDataFrame(hot)), keys, "left_anti"
    )
    _stage(gated, view)
    return view


def _staged_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hs and sig stay LAZY: the skew-detection agg below scans
    # bands → sig → hs in one sequential chain (bands_select is a single
    # inline() scan), filling both caches as a side effect — the detection
    # pass replaces the two count() jobs instead of adding one.
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage_lazy(spark, dedup.minhash_sig_select(SPARK, hs), "__minhash_sig")
    gated = _gated_src(
        spark,
        dedup.bands_select(SPARK, "__minhash_sig"),
        ["band_idx", "band_key"],
        "__minhash_bands",
        dedup.BAND_BUCKET_CAP,
    )
    if gated:
        return spark.sql(
            dedup.minhash_pairs_from_bands_select(
                SPARK, hs, gated, 0.8, bucket_cap=None
            )
        )
    return spark.sql(
        dedup.minhash_pairs_select(
            SPARK, hs, "__minhash_sig", 0.8, bucket_cap=None
        )
    )


def _staged_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same lazy-fill pattern as _staged_minhash: detection scans
    # bands → sh → hs once and fills both caches
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage_lazy(spark, dedup.simhash_from_hs_select(SPARK, hs), "__simhash_sh")
    gated = _gated_src(
        spark,
        dedup.simhash_bands_select(SPARK, "__simhash_sh"),
        ["band_idx", "band_key"],
        "__simhash_bands",
        dedup.BAND_BUCKET_CAP,
    )
    if gated:
        return spark.sql(
            dedup.simhash_pairs_from_bands(SPARK, gated, bucket_cap=None)
        )
    return spark.sql(
        dedup.simhash_pairs_from(SPARK, "__simhash_sh", bucket_cap=None)
    )


def _staged_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix-filtered exact join (ngram_pairs_prefix_from): candidate
    # generation touches only each doc's rarest shingles, so the hot-key
    # df-cap gate is unnecessary — boilerplate shingles sort last and
    # never enter a prefix.  The exploded (doc_id, h) stage is cached
    # eagerly: dfq and rk scan it concurrently in the final job (a lazy
    # fill would race and recompute the explode per scan); the fill pass
    # replaces the old skew-detection agg, so job count is unchanged.
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage(spark.sql(SPARK.unnest_select("doc_id", "shs", "h", hs)), "__ngram_ex")
    # the prefix rows feed BOTH sides of the candidate self-join: staged
    # eagerly so the join reads the cache instead of re-running the
    # df-order window per side (CTE inlining; measured 173s -> ~8s at the
    # 10x tier)
    _stage(
        spark.sql(dedup.ngram_prefix_select(SPARK, hs, 0.8, "__ngram_ex")),
        "__ngram_pfx",
    )
    # verification side = one array row per doc; broadcast while its
    # BYTES fit an executor (ngram_verify_select docstring), else the
    # shuffle join is the correct plan at scale.  Catalyst's size estimate
    # of the cached relation measures the array payload — a row-count
    # gate would happily broadcast 900k docs x 400 shingles (multi-GB).
    try:
        hs_bytes = int(
            spark.table(hs)._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        hs_bytes = 1 << 60  # unknown -> assume too big, keep shuffle join
    bcast = hs_bytes <= 512 * 1024 * 1024
    return spark.sql(
        dedup.ngram_verify_select(SPARK, hs, 0.8, "__ngram_pfx", broadcast_verify=bcast)
    )


_staged_minhash.__doc__ = dedup.minhash_lsh_sql.__doc__
register("dedup_minhash_lsh", oracle=dedup.minhash_lsh_sql(DUCK, threshold=0.8))(_staged_minhash)


_staged_simhash.__doc__ = dedup.simhash_pairs_sql.__doc__
register("dedup_simhash", oracle=dedup.simhash_pairs_sql(DUCK))(_staged_simhash)

_staged_ngram.__doc__ = dedup.ngram_jaccard_sql.__doc__
register("dedup_ngram_jaccard", oracle=dedup.ngram_jaccard_sql(DUCK, threshold=0.8))(_staged_ngram)


# --- sf1-tractable block-diagonal oracles (VERDICT r07 next-round #6) ------
# The two quadratic-BY-SPEC baselines (dedup_ngram_jaccard's all-pairs
# DuckDB oracle; embedding_near_dup_pairs, exact all-pairs on both sides)
# are excluded from the sf1 sweep — 50k docs / 20k vecs make the exact
# definition a >60-min single-core DuckDB wall (r7, killed).  These twins
# score only pairs within the same 500-id contiguous block (the
# BLOCK-DIAGONAL exact definition): cost drops N²/2 → N·500/2 (sf1: 1.25G
# → 12.5M intersects, measured ~22 s at sf0.1), while the uniform dup
# pairs survive at a ~500/N rate — ~26 ngram / ~14 cosine pairs expected
# at sf1 (30 / 40 measured at sf0.1), so the sf1 row checks REAL pair
# math, not an empty set (a plain id-slice keeps almost no pairs: dup
# partners are uniform over the id space, probe r8).  At tiers where
# N <= 500 this degenerates to the full all-pairs definition.  The ngram
# twin keeps the ENGINE side on the prefix-filtered scale path (+ the
# same block predicate, pushed into the verify join), so at sf1 it proves
# scale-path == exact-definition — the equality the excluded row could
# not show.

_BLOCK = 500


def _staged_ngram_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered ngram-Jaccard (the scale path — exactly
    ``_staged_ngram``'s staging and byte-gated broadcast decision) with
    the block predicate on top; it references both join sides, so
    Catalyst pushes it into the verify join.  Gated against the
    block-diagonal exact definition."""
    from pyspark.sql import functions as F

    return _staged_ngram(spark, sf_dir).filter(
        F.expr(f"(doc_a - (doc_a % {_BLOCK})) = (doc_b - (doc_b % {_BLOCK}))")
    )


register(
    "dedup_ngram_jaccard_blocked",
    oracle=dedup.ngram_jaccard_sql(DUCK, threshold=0.8, block=_BLOCK),
)(_staged_ngram_blocked)

_sql_query(
    "embedding_near_dup_blockdiag",
    similarity.embedding_cosine_pairs_sql,
    threshold=0.45,
    block=_BLOCK,
    _tables=("embeddings",),
)


# --- incremental dedup against a persisted LSH index ----------------------
# One index directory PER (process, sf_dir), built on first use and reused
# by every later invocation against the same data (ADVICE r10: bench runs
# the query 8 times — rebuilding and rewriting the corpus index each timed
# run charged the one-time amortized cost to every repetition; now only the
# first call pays the index build, matching a deployment where the daily
# batch joins a standing index).  Keyed by sf_dir because the index content
# derives from the corpus — the multi-tier sweeps run several sf dirs in
# one process.  Reclaimed at interpreter exit (per-call mkdtemp would leak
# one band-parquet dir per run — the leak class streaming_e2e's
# _LIVE_STORES fixed).
_INC_INDEX_STATE: dict[str, str] = {}


def _inc_index_dir(sf_dir: str) -> tuple[str, bool]:
    """Returns (index path, already_built) for this corpus."""
    import atexit
    import shutil
    import tempfile

    if sf_dir in _INC_INDEX_STATE:
        return _INC_INDEX_STATE[sf_dir], True
    store = tempfile.mkdtemp(prefix="lsh_index_")
    _INC_INDEX_STATE[sf_dir] = store
    atexit.register(lambda: shutil.rmtree(store, ignore_errors=True))
    return store, False


def _staged_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-once / dedup-each-batch: the corpus half's banded LSH index is
    PERSISTED to parquet and read back (the train-once index-management
    shape save_ivf_index already proves for vectors); only the new batch is
    shingled and minhashed at query time, and candidates come from an
    equi-join of the batch's bands against the stored index — never a
    corpus re-scan.  At 100 TB the index table is partitioned by
    (band_idx, band_key bucket) so each daily batch joins co-located.
    Verification fetches both sides' shingles by doc_id, the
    fetch-candidates-by-key read a real deployment does against the
    document store."""
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    spark.sql(
        f"SELECT * FROM {hs} WHERE {dedup.incremental_corpus_pred()}"
    ).createOrReplaceTempView("__inc_hs_idx")
    spark.sql(
        f"SELECT * FROM {hs} WHERE {dedup.incremental_delta_pred()}"
    ).createOrReplaceTempView("__inc_hs_delta")
    # build + persist the corpus index ONLY when absent (one-time cost,
    # amortized over every future batch), then read it back — the query
    # below must only see the on-disk copy
    path, built = _inc_index_dir(sf_dir)
    if not built:
        _stage_lazy(
            spark, dedup.minhash_sig_select(SPARK, "__inc_hs_idx"), "__inc_sig_idx"
        )
        spark.sql(dedup.bands_select(SPARK, "__inc_sig_idx")).write.mode(
            "overwrite"
        ).parquet(path)
        from incubator_horaedb_spark.querybank.registry import invalidate_store_schema

        invalidate_store_schema(path)  # ADVICE r12: memo must follow the writer
    from incubator_horaedb_spark.querybank.registry import read_parquet_memo

    read_parquet_memo(spark, path).createOrReplaceTempView("__inc_bands_idx")
    # the new batch: signature + bands over the delta half only (staged —
    # referenced by the hot-bucket gate and the candidate join)
    _stage_lazy(spark, dedup.minhash_sig_select(SPARK, "__inc_hs_delta"), "__inc_sig_dlt")
    _stage(spark.sql(dedup.bands_select(SPARK, "__inc_sig_dlt")), "__inc_bands_dlt")
    return spark.sql(
        SPARK.cte_query(
            dedup.incremental_pairs_ctes(
                SPARK, hs, "__inc_bands_idx", "__inc_bands_dlt"
            ),
            "SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.8",
        )
    )


_staged_incremental_lsh.__doc__ = (
    dedup.incremental_lsh_sql.__doc__ + "\n\n" + _staged_incremental_lsh.__doc__
)
register(
    "dedup_incremental_lsh", oracle=dedup.incremental_lsh_sql(DUCK, threshold=0.8)
)(_staged_incremental_lsh)


def _staged_nd_edges(spark: SparkSession, sf_dir: str) -> str:
    """Build the staged minhash-LSH → verified pairs → edge-list views;
    returns the edge view name.  Shared by the CC labeling chain and the
    near-dup PageRank."""
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage_lazy(spark, dedup.minhash_sig_select(SPARK, hs), "__cc_sig")
    gated = _gated_src(
        spark,
        dedup.bands_select(SPARK, "__cc_sig"),
        ["band_idx", "band_key"],
        "__cc_bands",
        dedup.BAND_BUCKET_CAP,
    )
    if gated:
        pairs = spark.sql(
            dedup.minhash_pairs_from_bands_select(
                SPARK, hs, gated, 0.8, bucket_cap=None
            )
        )
    else:
        pairs = spark.sql(
            dedup.minhash_pairs_select(
                SPARK, hs, "__cc_sig", 0.8, bucket_cap=None
            )
        )
    pairs.createOrReplaceTempView("__cc_pairs")
    _stage(spark.sql(dedup.cc_edges_select(SPARK, "__cc_pairs", 0.8)), "__cc_edges")
    return "__cc_edges"


def _staged_cc_labels(spark: SparkSession, sf_dir: str) -> str:
    """Staged edges → converged CC label view name.  Shared by the cluster
    summary and the survivor-selection (dedup APPLY) queries."""
    _staged_nd_edges(spark, sf_dir)
    # Convergence-asserted CC loop (dedup.cc_converged_labels): min-label
    # propagation + pointer jump until a verified fixed point, rounds
    # localCheckpoint'd for lineage truncation (without it the analyzed
    # plan grows 3^k per round even when execution hits the cache —
    # measured 2.3s → 5s → 18s per round; use checkpoint(dir) on a real
    # cluster for fault tolerance).
    return dedup.cc_converged_labels(spark, "__cc_edges", "__cc")


def _staged_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _staged_cc_labels(spark, sf_dir)
    return spark.sql(dedup.cc_summary_select(SPARK, labels))


_staged_cluster_reps.__doc__ = dedup.dedup_cluster_reps_sql.__doc__
register(
    "dedup_cluster_reps", oracle=dedup.dedup_cluster_reps_sql(DUCK, threshold=0.8)
)(_staged_cluster_reps)


# --- training-pipeline compositions (operators/pipeline.py) ---------------
def _staged_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _staged_cc_labels(spark, sf_dir)
    return spark.sql(pipeline.survivors_final_select(SPARK, "documents", labels))


_staged_survivors.__doc__ = pipeline.dedup_survivors_sql.__doc__
register("dedup_apply_survivors", oracle=pipeline.dedup_survivors_sql(DUCK, threshold=0.8))(
    _staged_survivors
)


def _staged_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = _staged_shingles(spark, sf_dir)
    return spark.sql(pipeline.decontaminate_from_hs_select(SPARK, hs))


_staged_decontaminate.__doc__ = pipeline.decontaminate_sql.__doc__
register("decontaminate_ngram", oracle=pipeline.decontaminate_sql(DUCK))(
    _staged_decontaminate
)

def _staged_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = _staged_shingles(spark, sf_dir)
    return spark.sql(pipeline.bloom_decontaminate_from_hs_select(SPARK, hs))


_staged_bloom_decontaminate.__doc__ = pipeline.bloom_decontaminate_sql.__doc__
register("decontaminate_bloom", oracle=pipeline.bloom_decontaminate_sql(DUCK))(
    _staged_bloom_decontaminate
)

_sql_query("sample_stratified", pipeline.stratified_sample_sql, _tables=("events",))
_sql_query("sample_weighted_mix", pipeline.weighted_sample_sql)
_sql_query("doc_cluster_assign", text.doc_cluster_sql)
_sql_query("corpus_mix_report", pipeline.mix_report_sql)


# --- similarity search ----------------------------------------------------
_sql_query(
    "ann_cosine_bruteforce",
    similarity.ann_bruteforce_sql,
    _tables=("embeddings",),
    _widen=("embeddings",),
)
_sql_query(
    "ann_mips_topk",
    similarity.ann_mips_sql,
    _tables=("embeddings",),
    _widen=("embeddings",),
)
_sql_query("ann_cosine_ivf", similarity.ann_ivf_sql, _tables=("embeddings",))
_sql_query(
    "embedding_near_dup_pairs",
    similarity.embedding_cosine_pairs_sql,
    threshold=0.45,
    _tables=("embeddings",),
)

def _staged_rhp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView("embeddings")
    _stage(spark.sql(similarity.normed_select(SPARK, "embeddings")), "__rhp_normed")
    _stage(spark.sql(similarity.rhp_sig_select(SPARK, "__rhp_normed")), "__rhp_sig")
    return spark.sql(similarity.rhp_pairs_from(SPARK, "__rhp_sig", "__rhp_normed", 0.45))


_staged_rhp_lsh.__doc__ = similarity.embedding_rhp_lsh_sql.__doc__
register("embedding_rhp_lsh", oracle=similarity.embedding_rhp_lsh_sql(DUCK, threshold=0.45))(
    _staged_rhp_lsh
)

# --- text analysis --------------------------------------------------------
_sql_query("text_langid", text.langid_sql)
_sql_query("text_bm25_topk", text.bm25_sql)
_sql_query("text_quality", text.quality_sql)
_sql_query("text_token_count", text.token_count_sql)
_sql_query("text_fingerprint", text.fingerprint_sql)
_sql_query("pii_scrub", text.pii_scrub_sql)
_sql_query("doc_chunking", text.chunk_sql)
_sql_query("corpus_shuffle", text.shuffle_sql)
_sql_query("sessionize_events", pipeline.sessionize_sql, _tables=("events",))
_sql_query("zorder_cluster", pipeline.zorder_sql, _tables=("part",))
_sql_query("corpus_split_assign", pipeline.split_assign_sql)
_sql_query("text_ttr", text.ttr_sql)
_sql_query("dedup_paragraphs", dedup.paragraph_dedup_sql)
_sql_query("quality_gopher_rules", text.gopher_rules_sql)


def _staged_tokh_query(name: str, template_fn, **kw):
    """Widen the documents scan AND stage the token-hash view (cached):
    these templates reference the token stream 2-3x downstream, and CTE
    inlining would re-run the per-char fold per reference (the same
    CTE-inlining cliff the LSH pipelines hit)."""
    duck_sql = template_fn(DUCK, **kw)
    spark_sql = template_fn(SPARK, tokh_src="__tokh_shared", **kw)

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
            "documents"
        )
        _stage(spark.sql(dedup.tokh_select(SPARK, "documents")), "__tokh_shared")
        return spark.sql(spark_sql)

    q.__name__ = name
    q.__doc__ = f"{template_fn.__module__}.{template_fn.__name__} — see operator docstring."
    register(name, oracle=duck_sql)(q)
    return q


_staged_tokh_query("text_unigram_surprisal", text.surprisal_sql)
_staged_tokh_query("cms_heavy_hitters", text.cms_heavy_hitters_sql)


def _salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof exact NDV per event_type via salted two-phase
    aggregation (operators/salt.py): phase 1 collects per-(key, salt)
    distinct sets, phase 2 merges them per key — the shape that survives a
    hot key whose distinct-set state would otherwise pin one reducer.  The
    oracle is the PLAIN count(DISTINCT ...), proving the salted
    decomposition is exact, not approximate."""
    from pyspark.sql import functions as F

    from incubator_horaedb_spark.operators.salt import salted_agg

    ev = load(spark, sf_dir, "events")
    return salted_agg(
        ev.select("event_type", "user_id"),
        ["event_type"],
        partial_aggs=[F.collect_set("user_id").alias("us")],
        combine_aggs=[
            F.size(F.array_distinct(F.flatten(F.collect_list("us"))))
            .cast("long")
            .alias("n_users")
        ],
    )


register(
    "salted_distinct_users",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)(_salted_distinct_users)


def _staged_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token projection staged as a cached view (CTE-inlining cliff, same
    # reason as text_repetition)
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(text.repetition_tokens_select(SPARK, "documents")), "__ngt_t")
    return spark.sql(text.ngram_topk_from(SPARK, "__ngt_t", k=20))


_staged_ngram_topk.__doc__ = text.ngram_topk_sql.__doc__
register("text_ngram_topk", oracle=text.ngram_topk_sql(DUCK, k=20))(_staged_ngram_topk)


def _staged_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token projection staged as a cached view: projection collapse would
    # otherwise re-expand split() into every bigram element reference
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(text.repetition_tokens_select(SPARK, "documents")), "__rep_t")
    return spark.sql(text.repetition_from(SPARK, "__rep_t"))


_staged_repetition.__doc__ = text.repetition_sql.__doc__
register("text_repetition", oracle=text.repetition_sql(DUCK))(_staged_repetition)


def _staged_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same staging: the token array feeds the metrics CTE AND the bigram
    # explode — cached once instead of re-deriving per reference
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(text.qf_tokens_select(SPARK, "documents")), "__qf_t")
    return spark.sql(text.quality_filter_from(SPARK, "__qf_t"))


_staged_quality_filter.__doc__ = text.quality_filter_sql.__doc__
register("corpus_quality_filter", oracle=text.quality_filter_sql(DUCK))(_staged_quality_filter)


def _blocked_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.blocked_near_dup_pairs(emb, threshold=0.45)


_blocked_near_dup.__doc__ = similarity.blocked_near_dup_pairs.__doc__
register(
    "embedding_near_dup_blocked",
    oracle=similarity.blocked_near_dup_oracle_sql(DUCK, threshold=0.45),
)(_blocked_near_dup)


def _staged_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    _stage(spark.sql(similarity.km_quant_select(SPARK, "embeddings")), "__km_qraw")
    _stage(spark.sql(similarity.km_qv_select(SPARK, "__km_qraw")), "__km_qv")
    cent = spark.sql(similarity.km_init_select(SPARK, "__km_qv")).localCheckpoint()
    cent.createOrReplaceTempView("__km_cent1")
    for r in range(1, similarity.KM_ROUNDS + 1):
        # localCheckpoint per round: the assign→update chain would otherwise
        # grow the logical plan multiplicatively (same cliff as the CC loop).
        # r13 (VERDICT r12 #3): a{r} for r < R is referenced exactly once
        # (by update), so it is a plain view computed inside cent{r+1}'s
        # checkpoint job — one materialization per round instead of two.
        # Only the final assignment (consumed by summary AND the IVF
        # search/medoids/ivfpq chains) stays checkpointed.
        assign_sql = similarity.km_assign_select(SPARK, "__km_qv", f"__km_cent{r}")
        if r < similarity.KM_ROUNDS:
            spark.sql(assign_sql).createOrReplaceTempView(f"__km_a{r}")
            cent = spark.sql(similarity.km_update_select(SPARK, f"__km_a{r}")).localCheckpoint()
            cent.createOrReplaceTempView(f"__km_cent{r + 1}")
        else:
            a = spark.sql(assign_sql).localCheckpoint()
            a.createOrReplaceTempView(f"__km_a{r}")
    return spark.sql(
        similarity.km_summary_select(SPARK, f"__km_a{similarity.KM_ROUNDS}")
    )


_staged_ivf_kmeans.__doc__ = similarity.ivf_kmeans_sql.__doc__
register("ivf_kmeans_train", oracle=similarity.ivf_kmeans_sql(DUCK))(_staged_ivf_kmeans)


def _staged_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    _staged_ivf_kmeans(spark, sf_dir)  # builds __km_qv, __km_cent{R}, __km_a{R}
    r = similarity.KM_ROUNDS
    # the search CTEs chain linearly (probe → hits → ranked, each
    # referenced once) over the staged/checkpointed training views, so
    # Spark's CTE inlining is harmless here — one query suffices
    return spark.sql(
        SPARK.cte_query(
            similarity.km_search_ctes(
                SPARK, "__km_qv", f"__km_a{r}", f"__km_cent{r}", k=5, n_probe=2, n_queries=10
            ),
            "SELECT qid, vec_id, cosine FROM ranked WHERE rn <= 5",
        )
    )


_staged_ann_ivf_trained.__doc__ = similarity.ann_ivf_trained_sql.__doc__
register(
    "ann_ivf_trained",
    oracle=similarity.ann_ivf_trained_sql(DUCK, k=5, n_probe=2, n_queries=10),
)(_staged_ann_ivf_trained)


def _staged_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    _staged_ivf_kmeans(spark, sf_dir)  # builds __km_qv, __km_cent{R}, __km_a{R}
    r = similarity.KM_ROUNDS
    ivf = SPARK.cte_query(
        similarity.km_search_ctes(
            SPARK, "__km_qv", f"__km_a{r}", f"__km_cent{r}", k=5, n_probe=2, n_queries=10
        ),
        "SELECT qid, vec_id FROM ranked WHERE rn <= 5",
    )
    _stage(spark.sql(ivf), "__recall_ivf")
    bf = SPARK.cte_query(
        similarity._bf_ranked_ctes(SPARK, "__km_qv", k=5, n_queries=10),
        "SELECT qid, vec_id FROM bf_ranked WHERE rn <= 5",
    )
    _stage(spark.sql(bf), "__recall_bf")
    return spark.sql(similarity.ann_recall_select(SPARK, "__recall_bf", "__recall_ivf", k=5))


_staged_ann_recall.__doc__ = similarity.ann_recall_sql.__doc__
register(
    "ann_recall_at_k",
    oracle=similarity.ann_recall_sql(DUCK, k=5, n_probe=2, n_queries=10),
)(_staged_ann_recall)


def _blocked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.blocked_topk(emb, k=5, n_queries=10)


_blocked_topk.__doc__ = similarity.blocked_topk.__doc__
register(
    "ann_topk_blocked",
    oracle=similarity.blocked_topk_oracle_sql(DUCK, k=5, n_queries=10),
)(_blocked_topk)


def _blocked_topk_multiblock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB execution shape GATED: corpus split into two blocks (by
    vec_id parity), per-block broadcast-GEMM top-k, union, ONE re-rank
    window — provably equal to the single-block result (the global i-th
    best is inside its own block's top-k), so it shares the single-block
    oracle.  This is the query a multi-block deployment actually runs."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    blocks = [emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 == 1)]
    return similarity.blocked_topk_over_blocks(emb, blocks, k=5, n_queries=10)


register(
    "ann_topk_multiblock",
    oracle=similarity.blocked_topk_oracle_sql(DUCK, k=5, n_queries=10),
)(_blocked_topk_multiblock)


# --- round-3 additions: winnowing, rare-token, SemDeDup, int8 quantize ----
def _staged_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(dedup.tokh_select(SPARK, "documents")), "__winnow_tokh")
    return spark.sql(text.winnow_from(SPARK, "__winnow_tokh"))


_staged_winnow.__doc__ = text.winnow_sql.__doc__
register("text_winnow_fingerprint", oracle=text.winnow_sql(DUCK))(_staged_winnow)


def _staged_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(dedup.tokh_select(SPARK, "documents")), "__rare_tokh")
    return spark.sql(text.rare_from_tokh(SPARK, "__rare_tokh"))


_staged_rare_tokens.__doc__ = text.rare_token_ratio_sql.__doc__
register("text_rare_token_ratio", oracle=text.rare_token_ratio_sql(DUCK))(
    _staged_rare_tokens
)


def _staged_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView("embeddings")
    _stage(spark.sql(similarity.normed_select(SPARK, "embeddings")), "__sd_normed")
    _stage(spark.sql(similarity.rhp_sig_select(SPARK, "__sd_normed")), "__sd_sig")
    return spark.sql(
        SPARK.cte_query(
            similarity.rhp_pairs_ctes(SPARK, "__sd_sig", "__sd_normed", 0.7),
            similarity.semdedup_final_select(SPARK, "embeddings", "verified", 0.7),
        )
    )


_staged_semdedup.__doc__ = similarity.semdedup_sql.__doc__
register("embedding_semdedup", oracle=similarity.semdedup_sql(DUCK, threshold=0.7))(
    _staged_semdedup
)


_sql_query("embedding_int8_quantize", similarity.int8_quantize_sql, _tables=("embeddings",))


def _staged_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage the two expensive shared inputs: lowercased tokens (quality
    # gate references it 2x) and shingle hashes (decontam references 3x)
    hs = _staged_shingles(spark, sf_dir)
    _stage(spark.sql(text.qf_tokens_select(SPARK, "documents")), "__cur_t")
    return spark.sql(
        pipeline.curation_from(SPARK, "documents", "__cur_t", hs)
    )


_staged_curation.__doc__ = pipeline.curation_from.__doc__
register("corpus_curation_e2e", oracle=pipeline.curation_e2e_sql(DUCK))(_staged_curation)


def _staged_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    hs = _staged_shingles(spark, sf_dir)
    _stage(spark.sql(dedup.minhash_sig_select(SPARK, hs)), "__acc_sig")
    gated = _gated_src(
        spark,
        dedup.bands_select(SPARK, "__acc_sig"),
        ["band_idx", "band_key"],
        "__acc_bands",
        dedup.BAND_BUCKET_CAP,
    )
    if not gated:
        _stage(spark.sql(dedup.bands_select(SPARK, "__acc_sig")), "__acc_bands_all")
        gated = "__acc_bands_all"
    return spark.sql(dedup.minhash_accuracy_from(SPARK, hs, "__acc_sig", gated))


_staged_minhash_accuracy.__doc__ = dedup.minhash_accuracy_sql.__doc__
register("dedup_minhash_accuracy", oracle=dedup.minhash_accuracy_sql(DUCK))(
    _staged_minhash_accuracy
)


def _pq_stage_common(spark: SparkSession, sf_dir: str, prefix: str) -> tuple[str, str, str]:
    """Stage the PQ training chain: subvector view, final codebook, final
    assignment.  ``sub`` is referenced once per Lloyd round plus the ADC
    LUT; each codebook round is referenced by its assignment; the final
    assignment is referenced by both the codes and the summary — all
    multi-referenced subtrees are cached views (CTE-inlining cliff)."""
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView("embeddings")
    _stage(spark.sql(similarity.km_quant_select(SPARK, "embeddings")), f"{prefix}_qv")
    _stage(spark.sql(similarity.pq_sub_select(SPARK, f"{prefix}_qv")), f"{prefix}_sub")
    cb = f"{prefix}_cb1"
    _stage(spark.sql(similarity.pq_init_select(SPARK, f"{prefix}_sub")), cb)
    pa = None
    for r in range(1, similarity.PQ_ROUNDS + 1):
        pa = f"{prefix}_pa{r}"
        assign_sql = similarity.pq_assign_select(SPARK, f"{prefix}_sub", cb)
        if r < similarity.PQ_ROUNDS:
            # r13 (VERDICT r12 #3): the intermediate assignment is
            # referenced exactly once (by the next codebook update), so
            # it is a plain view computed inside that stage's fill job —
            # one staged materialization per Lloyd round instead of two.
            spark.sql(assign_sql).createOrReplaceTempView(pa)
            cb = f"{prefix}_cb{r + 1}"
            _stage(spark.sql(similarity.pq_update_select(SPARK, pa)), cb)
        else:
            _stage(spark.sql(assign_sql), pa)
    return f"{prefix}_sub", cb, pa


def _staged_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, pa = _pq_stage_common(spark, sf_dir, "__pqt")
    return spark.sql(
        f"""SELECT subsp, cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
    FROM {pa} GROUP BY subsp, cid"""
    )


_staged_pq_train.__doc__ = similarity.pq_train_sql.__doc__
register("pq_train", oracle=similarity.pq_train_sql(DUCK))(_staged_pq_train)


def _staged_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub, cb, pa = _pq_stage_common(spark, sf_dir, "__pqa")
    _stage(spark.sql(f"SELECT vec_id, subsp, cid FROM {pa}"), "__pqa_codes")
    r6 = (
        "(CAST(floor((adist) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    )
    return spark.sql(
        SPARK.cte_query(
            similarity.pq_adc_ctes(SPARK, "__pqa_codes", cb, sub, 5, 10),
            f"SELECT qid, vec_id, {r6} AS adc_dist FROM ranked WHERE rn <= 5",
        )
    )


_staged_pq_adc.__doc__ = similarity.pq_adc_sql.__doc__
register("ann_pq_adc", oracle=similarity.pq_adc_sql(DUCK, k=5, n_queries=10))(
    _staged_pq_adc
)


def _staged_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(dedup.tokh_select(SPARK, "documents")), "__hf_tokh")
    return spark.sql(text.hash_features_sql(SPARK, tokh_src="__hf_tokh"))


_staged_hash_features.__doc__ = text.hash_features_sql.__doc__
register("text_hash_features", oracle=text.hash_features_sql(DUCK))(_staged_hash_features)


def _staged_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(
        spark.sql(
            f"SELECT doc_id, source, {SPARK.hash_list(SPARK.tokens('text'))} AS th "
            f"FROM documents"
        ),
        "__cls_tokh",
    )
    return spark.sql(text.classifier_score_sql(SPARK, tokh_src="__cls_tokh"))


_staged_classifier_score.__doc__ = text.classifier_score_sql.__doc__
register("quality_classifier_score", oracle=text.classifier_score_sql(DUCK))(
    _staged_classifier_score
)


def _staged_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # coarse quantizer: the staged k-means chain (__km_qv/__km_cent/__km_a)
    _staged_ivf_kmeans(spark, sf_dir)
    r = similarity.KM_ROUNDS
    # fine quantizer: PQ chain over the SAME quantized vectors
    _stage(spark.sql(similarity.pq_sub_select(SPARK, "__km_qv")), "__ivfpq_sub")
    cb = "__ivfpq_cb1"
    _stage(spark.sql(similarity.pq_init_select(SPARK, "__ivfpq_sub")), cb)
    pa = None
    for pr in range(1, similarity.PQ_ROUNDS + 1):
        pa = f"__ivfpq_pa{pr}"
        assign_sql = similarity.pq_assign_select(SPARK, "__ivfpq_sub", cb)
        if pr < similarity.PQ_ROUNDS:
            # same single-reference collapse as _pq_stage_common (r13)
            spark.sql(assign_sql).createOrReplaceTempView(pa)
            cb = f"__ivfpq_cb{pr + 1}"
            _stage(spark.sql(similarity.pq_update_select(SPARK, pa)), cb)
        else:
            _stage(spark.sql(assign_sql), pa)
    _stage(spark.sql(f"SELECT vec_id, subsp, cid FROM {pa}"), "__ivfpq_codes")
    r6 = (
        "(CAST(floor((adist) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    )
    return spark.sql(
        SPARK.cte_query(
            similarity.ivfpq_adc_ctes(
                SPARK, "__ivfpq_codes", cb, "__ivfpq_sub", "__km_qv",
                f"__km_cent{r}", f"__km_a{r}", n_probe=2, n_queries=10,
            ),
            f"SELECT qid, vec_id, {r6} AS adc_dist FROM ranked WHERE rn <= 5",
        )
    )


_staged_ann_ivfpq.__doc__ = similarity.ann_ivfpq_sql.__doc__
register(
    "ann_ivfpq",
    oracle=similarity.ann_ivfpq_sql(DUCK, k=5, n_probe=2, n_queries=10),
)(_staged_ann_ivfpq)


# --- round 4: edit-distance dedup, leakage audit, packing, BPE ------------
_sql_query("dedup_edit_distance", dedup.edit_distance_dedup_sql)
_sql_query("split_leakage_check", pipeline.split_leakage_sql)
_sql_query("pack_sequences", pipeline.pack_sequences_sql)
_sql_query("bpe_pair_counts", text.bpe_pair_counts_sql)
_staged_tokh_query("text_bigram_surprisal", text.bigram_surprisal_sql)


def _staged_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same per-round localCheckpoint pattern as _staged_ivf_kmeans: the
    # score→update chain doubles the matvec per inlined reference and
    # compounds across rounds (2^R for the one-shot text), so each round's
    # 1-row vector is pinned before the next scan
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    _stage(spark.sql(similarity.km_quant_select(SPARK, "embeddings")), "__pi_q")
    # r13 (VERDICT r12 #3): only s{r} needs a checkpoint — pi_update
    # references its score table TWICE (component sums + the norm), so an
    # inlined s would recompute the matvec; v{r} and the literal v0 are
    # each referenced ONCE (by the next round's score / the final select),
    # so they are plain views computed inside the consumer's job — one
    # materialization per round instead of two.
    spark.sql(similarity.pi_init_select(SPARK)).createOrReplaceTempView("__pi_v0")
    for r in range(1, similarity.PI_ROUNDS + 1):
        s = spark.sql(
            similarity.pi_score_select(SPARK, "__pi_q", f"__pi_v{r - 1}")
        ).localCheckpoint()
        s.createOrReplaceTempView(f"__pi_s{r}")
        spark.sql(similarity.pi_update_select(SPARK, f"__pi_s{r}")).createOrReplaceTempView(
            f"__pi_v{r}"
        )
    return spark.sql(
        similarity.pi_component_select(SPARK, f"__pi_v{similarity.PI_ROUNDS}")
    )


_staged_power_iteration.__doc__ = similarity.power_iteration_sql.__doc__
register(
    "embedding_power_iteration",
    oracle=similarity.power_iteration_sql(DUCK),
)(_staged_power_iteration)


def _staged_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same staging as _staged_minhash (the candidate machinery is shared);
    # only the verify step differs (asymmetric containment vs jaccard)
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage_lazy(spark, dedup.minhash_sig_select(SPARK, hs), "__cont_sig")
    gated = _gated_src(
        spark,
        dedup.bands_select(SPARK, "__cont_sig"),
        ["band_idx", "band_key"],
        "__cont_bands",
        dedup.BAND_BUCKET_CAP,
    )
    src = gated if gated else "__cont_bands_all"
    if not gated:
        _stage_lazy(spark, dedup.bands_select(SPARK, "__cont_sig"), src)
    return spark.sql(
        dedup.containment_pairs_from_bands_select(
            SPARK, hs, src, bucket_cap=None
        )
    )


_staged_containment.__doc__ = dedup.containment_sql.__doc__
register(
    "dedup_containment",
    oracle=dedup.containment_sql(DUCK),
)(_staged_containment)


def _staged_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage the exploded (doc_id, term) stream once: tf and df both
    # consume it, and CTE inlining would otherwise scan + re-split the
    # corpus twice
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents"
    )
    _stage(spark.sql(text.tfidf_tok_select(SPARK, "documents")), "__tfidf_tok")
    return spark.sql(text.tfidf_topk_from(SPARK, "__tfidf_tok"))


_staged_tfidf.__doc__ = text.tfidf_topk_from.__doc__
register("text_tfidf_topk", oracle=text.tfidf_topk_sql(DUCK))(_staged_tfidf)


def _staged_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # center once (cached: the PI rounds and the final report all scan it),
    # then the per-round localCheckpoint pattern from _staged_power_iteration
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    _stage(spark.sql(similarity.km_quant_select(SPARK, "embeddings")), "__abtt_q")
    _stage(spark.sql(similarity.abtt_center_select(SPARK, "__abtt_q")), "__abtt_cv")
    # same collapse as _staged_power_iteration (r13): checkpoint only the
    # double-referenced score tables; v{r}/v0 are single-referenced views
    spark.sql(similarity.pi_init_select(SPARK)).createOrReplaceTempView("__abtt_v0")
    for r in range(1, similarity.PI_ROUNDS + 1):
        s = spark.sql(
            similarity.pi_score_select(SPARK, "__abtt_cv", f"__abtt_v{r - 1}")
        ).localCheckpoint()
        s.createOrReplaceTempView(f"__abtt_s{r}")
        spark.sql(
            similarity.pi_update_select(SPARK, f"__abtt_s{r}")
        ).createOrReplaceTempView(f"__abtt_v{r}")
    return spark.sql(
        similarity.abtt_score_select(SPARK, "__abtt_cv", f"__abtt_v{similarity.PI_ROUNDS}")
    )


_staged_abtt.__doc__ = similarity.abtt_sql.__doc__
register("embedding_abtt_postprocess", oracle=similarity.abtt_sql(DUCK))(_staged_abtt)


def _staged_edit_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs are cheap here (blocked candidates, ~tens of rows) — stage the
    # edges once, then the localCheckpoint CC loop from _staged_cc_labels
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents"
    )
    edges_sql = SPARK.cte_query(
        dedup._prefix_block_ctes(SPARK, "documents")
        + [("pairs", dedup.edit_distance_pairs_select(SPARK, "admitted"))],
        f"SELECT doc_a, doc_b FROM pairs WHERE edit_dist <= {dedup.EDIT_MAX}",
    )
    _stage(spark.sql(edges_sql), "__edcc_edges")
    labels = dedup.cc_converged_labels(spark, "__edcc_edges", "__edcc")
    return spark.sql(pipeline.survivors_final_select(SPARK, "documents", labels))


_staged_edit_survivors.__doc__ = dedup.edit_survivors_sql.__doc__
register("dedup_edit_survivors", oracle=dedup.edit_survivors_sql(DUCK))(
    _staged_edit_survivors
)


def _staged_ivf_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reuse the staged kmeans chain (__km_qv / __km_a{R} / __km_cent{R})
    _staged_ivf_kmeans(spark, sf_dir)
    r = similarity.KM_ROUNDS
    r6 = similarity._r6
    d = SPARK
    dot_qc = similarity._dot(d, "a.q", "c.ce")
    dot_qq = similarity._dot(d, "a.q", "a.q")
    return spark.sql(
        f"""SELECT cid, rnk, vec_id, cos FROM (
        SELECT cid, vec_id, cos,
               row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS rnk
        FROM (
          SELECT a.cid, a.vec_id,
                 {r6(f"({dot_qc}) / (sqrt({dot_qq}) * c.cnrm)")} AS cos
          FROM __km_a{r} a JOIN __km_cent{r} c ON c.cid = a.cid
        ) scored
      ) t WHERE rnk <= 2"""
    )


_staged_ivf_medoids.__doc__ = similarity.ivf_medoids_sql.__doc__
register("ivf_medoids", oracle=similarity.ivf_medoids_sql(DUCK))(_staged_ivf_medoids)


_sql_query("corpus_budget_select", pipeline.budget_select_sql)


_sql_query("dedup_degree_histogram", dedup.degree_histogram_sql)
_sql_query("text_langid_confusion", text.langid_confusion_sql)
_sql_query("dedup_cross_source", dedup.cross_source_sql)
_sql_query("embedding_distance_histogram", similarity.distance_histogram_sql,
           _tables=("embeddings",))


# --- round-5 additions ------------------------------------------------------
_sql_query("dedup_inflation_report", pipeline.dup_inflation_sql)


def _staged_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # iterative BPE training: stage the symbolized vocabulary once (the
    # only corpus-sized step), then run each round's argmax + merge over
    # the tiny vocab table with lineage truncation — the one-shot text
    # would re-inline v{r-1} three times per round (3^R corpus explodes)
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents"
    )
    _stage(
        spark.sql(SPARK.cte_query(text.bpe_vocab_ctes(SPARK, "documents")[:-1],
                                  text.bpe_vocab_ctes(SPARK, "documents")[-1][1])),
        "__bpe_v0",
    )
    merges = []
    prev = "__bpe_v0"
    for r in range(1, text.BPE_ROUNDS + 1):
        p_cte, m_cte, v_cte = text.bpe_round_ctes(SPARK, prev, r)
        spark.sql(p_cte[1]).createOrReplaceTempView(f"__bpe_p{r}")
        m = spark.sql(m_cte[1].replace(f"FROM p{r}", f"FROM __bpe_p{r}")).localCheckpoint()
        m.createOrReplaceTempView(f"__bpe_m{r}")
        merges.append(f"__bpe_m{r}")
        v = spark.sql(
            v_cte[1].replace(f"CROSS JOIN m{r} m", f"CROSS JOIN __bpe_m{r} m")
        ).localCheckpoint()
        v.createOrReplaceTempView(f"__bpe_v{r}")
        prev = f"__bpe_v{r}"
    final = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b, a || b AS merged, "
        f"CAST(pair_count AS BIGINT) AS pair_count FROM __bpe_m{r}"
        for r in range(1, text.BPE_ROUNDS + 1)
    )
    return spark.sql(final)


_staged_bpe_train.__doc__ = text.bpe_train_merges_sql.__doc__
register("bpe_train_merges", oracle=text.bpe_train_merges_sql(DUCK))(_staged_bpe_train)

_staged_tokh_query("decontaminate_winnow", text.winnow_decontam_sql)


def _staged_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokh with the source label staged once; the KL pipeline references
    # the exploded stream several times (per-source, corpus and total
    # counts), so the O(chars) fold must not re-inline per reference
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents"
    )
    _stage(
        spark.sql(dedup.tokh_select(SPARK, "documents", extra_cols="source")),
        "__srcdiv_tokh",
    )
    return spark.sql(text.source_divergence_sql(SPARK, tokh_src="__srcdiv_tokh"))


_staged_source_divergence.__doc__ = text.source_divergence_sql.__doc__
register("corpus_source_divergence", oracle=text.source_divergence_sql(DUCK))(
    _staged_source_divergence
)


def _staged_dupspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView("documents")
    _stage(spark.sql(dedup.tokh_select(SPARK, "documents", extra_cols="source")), "__ds_tokh")
    occ_ctes = dedup.dupspan_occ_ctes(SPARK, "__ds_tokh")
    _stage(spark.sql(SPARK.cte_query(occ_ctes, "SELECT * FROM occ")), "__ds_occ")
    return spark.sql(dedup.dupspan_report_from(SPARK, "__ds_occ"))


_staged_dupspan.__doc__ = dedup.dupspan_report_sql.__doc__
register("dedup_dupspan_report", oracle=dedup.dupspan_report_sql(DUCK))(_staged_dupspan)


def _staged_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train over the staged vocab carrying the word column, then LEFT-JOIN
    # the (doc, source, word) stream against the final symbolization —
    # same staging discipline as _staged_bpe_train (lineage truncation per
    # round; the w stream is referenced by vocab AND the report, so it is
    # a cached view too)
    widen_for_compute(load(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents"
    )
    vocab_ctes = text.bpe_vocab_ctes(SPARK, "documents", w_cols="doc_id, source",
                                     carry="word, wc")
    _stage(spark.sql(vocab_ctes[0][1]), "__bpee_w")
    _stage(
        spark.sql(
            SPARK.cte_query(
                [("w", "SELECT * FROM __bpee_w")] + vocab_ctes[1:-1],
                vocab_ctes[-1][1],
            )
        ),
        "__bpee_v0",
    )
    prev = "__bpee_v0"
    for r in range(1, text.BPE_ROUNDS + 1):
        p_cte, m_cte, v_cte = text.bpe_round_ctes(SPARK, prev, r, carry="word, wc")
        spark.sql(p_cte[1]).createOrReplaceTempView(f"__bpee_p{r}")
        m = spark.sql(m_cte[1].replace(f"FROM p{r}", f"FROM __bpee_p{r}")).localCheckpoint()
        m.createOrReplaceTempView(f"__bpee_m{r}")
        v = spark.sql(
            v_cte[1].replace(f"CROSS JOIN m{r} m", f"CROSS JOIN __bpee_m{r} m")
        ).localCheckpoint()
        v.createOrReplaceTempView(f"__bpee_v{r}")
        prev = f"__bpee_v{r}"
    return spark.sql(text.bpe_encode_report_from(SPARK, "__bpee_w", prev))


_staged_bpe_encode.__doc__ = text.bpe_encode_corpus_sql.__doc__
register("bpe_encode_corpus", oracle=text.bpe_encode_corpus_sql(DUCK))(_staged_bpe_encode)


def _staged_mrl_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # qraw feeds both the full and the truncated view; qv/tv are each
    # scanned twice (query set + corpus side of their scored join) —
    # three cached views, then one query over the linear bf chains
    widen_for_compute(load(spark, sf_dir, "embeddings")).createOrReplaceTempView(
        "embeddings"
    )
    _stage(spark.sql(similarity.km_quant_select(SPARK, "embeddings")), "__mrl_qraw")
    _stage(spark.sql(similarity.km_qv_select(SPARK, "__mrl_qraw")), "__mrl_qv")
    _stage(spark.sql(similarity.mrl_trunc_select(SPARK, "__mrl_qraw")), "__mrl_tv")
    ctes = similarity._bf_prefixed_ctes(SPARK, "__mrl_qv", "f_", 5, 10)
    ctes += similarity._bf_prefixed_ctes(SPARK, "__mrl_tv", "t_", 5, 10)
    return spark.sql(SPARK.cte_query(ctes, similarity.mrl_recall_final(SPARK, 5)))


_staged_mrl_truncation.__doc__ = similarity.mrl_truncation_sql.__doc__
register(
    "embedding_mrl_truncation",
    oracle=similarity.mrl_truncation_sql(DUCK, k=5, n_queries=10),
)(_staged_mrl_truncation)


_sql_query("hybrid_rrf_fusion", pipeline.rrf_fusion_sql,
           _tables=("documents", "embeddings"))


def _staged_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edges from the shared minhash-LSH machinery; dirs/degs/nn are
    # referenced every round -> cached views; each round's contribution +
    # rank views chain linearly with localCheckpoint lineage truncation
    # (the cc_converged_labels discipline)
    edges = _staged_nd_edges(spark, sf_dir)
    ctes = dict(dedup.pagerank_ctes(SPARK, edges, pfx="__prk_"))
    # r13 (VERDICT r12 #3: cut the iterative-chain job count): ONE eager
    # fill — degs' count scans dirs sequentially and fills it; nn and pr0
    # register lazily and fill inside the round-1 checkpoint job (worst
    # case their caches race there and recompute a 1-row count / a cross
    # join over the already-cached degs — cheaper than three count jobs).
    _stage_lazy(spark, ctes["__prk_dirs"], "__prk_dirs")
    _stage(spark.sql(ctes["__prk_degs"]), "__prk_degs")
    _stage_lazy(spark, ctes["__prk_nn"], "__prk_nn")
    _stage_lazy(spark, ctes["__prk_pr0"], "__prk_pr0")
    for r in range(1, dedup.PR_ROUNDS + 1):
        # ctr{r} is referenced exactly once (pr{r}'s LEFT JOIN), so it is
        # a plain view computed inside pr{r}'s checkpoint job — one
        # materialization per round instead of two.  Values unchanged:
        # contributions are dyadic-quantized, so the neighbor-sum is
        # exact in any order (pagerank_ctes docstring).
        spark.sql(ctes[f"__prk_ctr{r}"]).createOrReplaceTempView(f"__prk_ctr{r}")
        spark.sql(ctes[f"__prk_pr{r}"]).localCheckpoint().createOrReplaceTempView(
            f"__prk_pr{r}"
        )
    return spark.sql(
        dedup.pagerank_final_select(SPARK, f"__prk_pr{dedup.PR_ROUNDS}")
    )


_staged_pagerank.__doc__ = dedup.pagerank_sql.__doc__
register("dedup_graph_pagerank", oracle=dedup.pagerank_sql(DUCK))(_staged_pagerank)


def _staged_ann_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PQ training staged once (__pqr_*); candidates + refine chain
    # linearly over the cached views (qv referenced twice: query + corpus
    # side of the refine join)
    sub, cb, pa = _pq_stage_common(spark, sf_dir, "__pqr")
    _stage(spark.sql(f"SELECT vec_id, subsp, cid FROM {pa}"), "__pqr_codes")
    ctes = similarity.pq_adc_ctes(SPARK, "__pqr_codes", cb, sub, 20, 10)
    ctes += [("cand", "SELECT qid, vec_id FROM ranked WHERE rn <= 20")]
    ctes += similarity.refine_ctes(SPARK, "cand", "__pqr_qv", 5)
    return spark.sql(
        SPARK.cte_query(
            ctes,
            "SELECT qid, vec_id, exact_dist, CAST(rn2 AS BIGINT) AS rnk "
            "FROM rr WHERE rn2 <= 5 ORDER BY qid, rnk",
        )
    )


_staged_ann_refine.__doc__ = similarity.ann_refine_sql.__doc__
register(
    "ann_refine_rerank", oracle=similarity.ann_refine_sql(DUCK, k=5, m=20, n_queries=10)
)(_staged_ann_refine)


_sql_query("sample_topk_per_group", pipeline.sample_topk_per_group_sql)


_sql_query("doc_cluster_quality", text.doc_cluster_quality_sql)


def _staged_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same staged LSH machinery as dedup_minhash_lsh, verification kept
    # down to the lowest band (0.5); the band report is two tiny aggs
    hs = _staged_shingles(spark, sf_dir, materialize=False)
    _stage_lazy(spark, dedup.minhash_sig_select(SPARK, hs), "__sweep_sig")
    gated = _gated_src(
        spark,
        dedup.bands_select(SPARK, "__sweep_sig"),
        ["band_idx", "band_key"],
        "__sweep_bands",
        dedup.BAND_BUCKET_CAP,
    )
    if gated:
        pairs = spark.sql(
            dedup.minhash_pairs_from_bands_select(SPARK, hs, gated, 0.5,
                                                  bucket_cap=None)
        )
    else:
        pairs = spark.sql(
            dedup.minhash_pairs_select(SPARK, hs, "__sweep_sig", 0.5,
                                       bucket_cap=None)
        )
    pairs.createOrReplaceTempView("__sweep_pairs")
    return spark.sql(dedup.threshold_sweep_from(SPARK, "__sweep_pairs"))


_staged_threshold_sweep.__doc__ = dedup.threshold_sweep_sql.__doc__
register("dedup_threshold_sweep", oracle=dedup.threshold_sweep_sql(DUCK))(
    _staged_threshold_sweep
)


_INTEGRITY_SQL = """
    WITH d AS (SELECT DISTINCT doc_id FROM documents),
    e AS (SELECT DISTINCT vec_id FROM embeddings),
    only_d AS (
      SELECT count(*) AS n FROM d LEFT JOIN e ON e.vec_id = d.doc_id
      WHERE e.vec_id IS NULL
    ),
    only_e AS (
      SELECT count(*) AS n FROM e LEFT JOIN d ON d.doc_id = e.vec_id
      WHERE d.doc_id IS NULL
    ),
    both_t AS (
      SELECT count(*) AS n FROM d JOIN e ON e.vec_id = d.doc_id
    )
    SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_vecs,
           CAST(both_t.n AS BIGINT) AS n_matched,
           CAST(only_d.n AS BIGINT) AS n_docs_without_vec,
           CAST(only_e.n AS BIGINT) AS n_vecs_without_doc
    FROM both_t CROSS JOIN only_d CROSS JOIN only_e
    """


def _integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit between the document corpus
    and its embedding table (documents.doc_id vs embeddings.vec_id):
    matched counts plus dangling rows in each direction — the pipeline
    invariant checked before any doc↔vector join (RRF fusion, SemDeDup,
    cluster sampling) is trusted; a nonzero dangling count means the
    embedding job lagged or doubled.  Two distinct-projections, two
    anti-join counts, all id-keyed — no wide columns move."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(_INTEGRITY_SQL)


_integrity.__name__ = "corpus_embedding_integrity"
register("corpus_embedding_integrity", oracle=_INTEGRITY_SQL)(_integrity)
