"""Central query/oracle registry consumed by ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 gets a ``QUERIES`` entry;
SQL-expressible ones also get an ``ORACLE_SQL`` entry (DuckDB dialect,
run by the driver against the same parquet at sf0.01). Flagship-family
queries over the synthesized spans table are rows-only here and covered
by the pytest span-equality suite instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(mod) -> None:
    QUERIES.update(mod.QUERIES)
    ORACLE_SQL.update(getattr(mod, "ORACLE_SQL", {}))


def _flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_ops_ocr_spark import corpus, pipeline

    return pipeline.extract(corpus.build_spans_df_cached(spark, sf_dir))


def _flagship_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_ops_ocr_spark import corpus, pipeline

    out = pipeline.extract(corpus.build_spans_df_cached(spark, sf_dir))
    return pipeline.metrics(out)


def _flagship_extract_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_ops_ocr_spark import corpus
    from dd_ops_ocr_spark.plans.sql_extract import extract_sql

    return extract_sql(corpus.build_spans_df_cached(spark, sf_dir))


def _flagship_extract_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dd_ops_ocr_spark import corpus
    from dd_ops_ocr_spark.plans.salting import extract_salted

    return extract_salted(corpus.build_spans_df_cached(spark, sf_dir))


def _flagship_extract_exploded_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dd_ops_ocr_spark import corpus
    from dd_ops_ocr_spark.plans.bounded import extract_exploded_bounded

    flat = (
        corpus.build_spans_df_cached(spark, sf_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
    )
    return extract_exploded_bounded(flat)


def _landed_cache(
    spark: SparkSession, sf_dir: str, suffix: str, **land_kwargs
) -> str:
    """Materialize-once landing fixture under .bench_cache/: the landed
    corpus is a deterministic derivative of sf_dir, keyed by generator
    version + layout suffix (same layout bench.py lands). Build/publish
    protocol (tmp + atomic rename, dead-builder sweep, live-builder
    safety) lives in fixture_cache.cached_fixture."""
    import os

    from dd_ops_ocr_spark import corpus
    from dd_ops_ocr_spark.fixture_cache import bench_cache_dir, cached_fixture

    name = os.path.basename(sf_dir.rstrip("/"))
    cache = bench_cache_dir()
    path = os.path.join(
        cache,
        f"spans_{name}_x1_v{corpus.GENERATOR_VERSION}{suffix}.parquet",
    )
    return cached_fixture(
        path,
        lambda tmp: corpus.materialize_spans(spark, sf_dir, tmp, **land_kwargs),
    )


def _flagship_extract_salted_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production salted path: routing via size_class partition
    PRUNING over a landed corpus (corpus.materialize_spans) instead of
    re-scanning the corpus per size class."""
    from dd_ops_ocr_spark.plans.salting import extract_salted_pruned

    return extract_salted_pruned(spark, _landed_cache(spark, sf_dir, "sc"))


def _flagship_extract_split_landed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split-landed path: mega docs land as bounded continuation
    rows (corpus.materialize_spans split_pages=16), extraction routes
    small docs to the nested kernel and reassembles big docs with the
    bounded flat plan (plans/split_landed.py). Same flagship oracle —
    the landing layout must not change a single span."""
    from dd_ops_ocr_spark.plans.split_landed import extract_split_landed

    return extract_split_landed(
        spark, _landed_cache(spark, sf_dir, "sp16", split_pages=16)
    )


# every execution path of the same spec is checked against the same
# DuckDB oracle: Arrow kernel, pure-JVM SQL, salted, salted-pruned,
# split-landed, bounded-exploded
QUERIES["flagship_extract"] = _flagship_extract
QUERIES["flagship_extract_sql"] = _flagship_extract_sql
QUERIES["flagship_extract_salted"] = _flagship_extract_salted
QUERIES["flagship_extract_salted_pruned"] = _flagship_extract_salted_pruned
QUERIES["flagship_extract_split_landed"] = _flagship_extract_split_landed
QUERIES["flagship_extract_exploded_bounded"] = _flagship_extract_exploded_bounded
QUERIES["flagship_metrics"] = _flagship_metrics

# Flagship-family DuckDB oracles: the driver's correctness pass runs at
# sf0.01; ``register_flagship_oracles`` materializes the same synthetic
# corpus to a parquet fixture (pure Python — byte-identical to the Spark
# input, see fixtures.py) and states the spec in DuckDB SQL over it.
_SF_CORRECT = "/root/testdata/sf0.01"


def register_flagship_oracles(sf_dir: str = _SF_CORRECT) -> None:
    from dd_ops_ocr_spark import fixtures

    from dd_ops_ocr_spark.operators.integrate import RISK_DIM_DEFAULT_SQL

    path = fixtures.ensure_spans_fixture(sf_dir)
    sql = fixtures.flagship_oracle_sql(path)
    ORACLE_SQL["flagship_extract"] = sql
    ORACLE_SQL["flagship_extract_sql"] = sql
    ORACLE_SQL["flagship_extract_salted"] = sql
    ORACLE_SQL["flagship_extract_salted_pruned"] = sql
    ORACLE_SQL["flagship_extract_exploded_bounded"] = sql
    ORACLE_SQL["flagship_extract_split_landed"] = sql
    ORACLE_SQL["flagship_metrics"] = fixtures.metrics_oracle_sql(path)
    ORACLE_SQL["integrated_text"] = fixtures.integrated_oracle_sql(path)
    ORACLE_SQL["contract_articles"] = fixtures.contract_articles_oracle_sql(path)
    ORACLE_SQL["contract_schema"] = fixtures.contract_schema_oracle_sql(
        path, RISK_DIM_DEFAULT_SQL
    )
    ORACLE_SQL["engine_dual_extract"] = fixtures.engine_dual_oracle_sql(path)
    from dd_ops_ocr_spark import sources

    ORACLE_SQL["model_artifact_fetch"] = sources.model_artifact_oracle_sql(
        sources.ensure_model_artifact()
    )
    ORACLE_SQL["media_resize"] = fixtures.media_resize_oracle_sql(path)
    # DCT-domain scaled-decode twin: every decoder rung yields >= target
    # pixels for the NN resample to reduce, so geometry and BMP byte
    # size — the SQL-statable surface — are decoder-independent
    ORACLE_SQL["media_resize_native_scaled"] = (
        fixtures.media_resize_oracle_sql(path)
    )
    ORACLE_SQL["media_metadata"] = fixtures.media_metadata_oracle_sql(path)
    ORACLE_SQL["media_metadata_jpeg"] = fixtures.media_metadata_jpeg_oracle_sql(path)
    # native-codec twin: identical SQL-statable surface (dimensions are
    # decoder-independent), so the same oracle proves the libjpeg path
    ORACLE_SQL["media_metadata_jpeg_native"] = (
        fixtures.media_metadata_jpeg_oracle_sql(path)
    )
    # progressive twin: same coefficients reordered across scans, so the
    # decoder-independent dims surface shares the same oracle
    ORACLE_SQL["media_metadata_jpeg_progressive"] = (
        fixtures.media_metadata_jpeg_oracle_sql(path)
    )
    ORACLE_SQL["media_metadata_png"] = fixtures.media_metadata_png_oracle_sql(path)
    # Adam7 twin: identical pixels in a seven-pass byte layout, so the
    # decoder-independent dims surface shares the PNG oracle
    ORACLE_SQL["media_metadata_png_interlaced"] = (
        fixtures.media_metadata_png_oracle_sql(path)
    )
    # WebP pair: the pure VP8L-subset decoder and the native libwebp
    # binding share the decoder-independent dims oracle
    ORACLE_SQL["media_metadata_webp"] = (
        fixtures.media_metadata_webp_oracle_sql(path)
    )
    ORACLE_SQL["media_metadata_webp_native"] = (
        fixtures.media_metadata_webp_oracle_sql(path)
    )
    ORACLE_SQL["media_binarize"] = fixtures.media_binarize_oracle_sql(path)
    ORACLE_SQL["media_upscale"] = fixtures.media_upscale_oracle_sql(path)
    ORACLE_SQL["media_debug_draw"] = fixtures.media_debug_draw_oracle_sql(path)
    ORACLE_SQL["media_frame_sample"] = fixtures.media_frame_sample_oracle_sql(path)
    ORACLE_SQL["media_video_frames"] = fixtures.media_video_frames_oracle_sql(path)
    ORACLE_SQL["media_video_delta_frames"] = (
        fixtures.media_video_delta_frames_oracle_sql(path)
    )
    ORACLE_SQL["media_audio_features"] = (
        fixtures.media_audio_features_oracle_sql(path)
    )
    ORACLE_SQL["media_audio_formats"] = (
        fixtures.media_audio_formats_oracle_sql(path)
    )
    ORACLE_SQL["media_audio_adpcm"] = (
        fixtures.media_audio_adpcm_oracle_sql(path)
    )
    ORACLE_SQL["media_audio_g711"] = (
        fixtures.media_audio_g711_oracle_sql(path)
    )
    ORACLE_SQL["media_metadata_quarantine"] = (
        fixtures.media_metadata_quarantine_oracle_sql(path)
    )
    ORACLE_SQL["media_video_frames_quarantine"] = (
        fixtures.media_video_frames_quarantine_oracle_sql(path)
    )
    ORACLE_SQL["media_audio_quarantine"] = (
        fixtures.media_audio_quarantine_oracle_sql(path)
    )
    # IVF: the oracle bakes the deterministically-trained centroids as
    # literals (similarity.train_ivf_centroids_local reads the same
    # parquet the query trains on)
    from dd_ops_ocr_spark.operators.similarity import (
        ann_ivf_oracle_sql,
        semdedup_oracle_sql,
    )

    ORACLE_SQL["ann_ivf_topk"] = ann_ivf_oracle_sql(sf_dir)
    # SemDeDup: same baked-centroid-literals pattern as the IVF oracle
    ORACLE_SQL["semdedup"] = semdedup_oracle_sql(sf_dir)

from dd_ops_ocr_spark.operators import bpe as _bpe  # noqa: E402
from dd_ops_ocr_spark.operators import catalogops as _catalogops  # noqa: E402
from dd_ops_ocr_spark.operators import charset as _charset  # noqa: E402
from dd_ops_ocr_spark.operators import classify as _classify  # noqa: E402
from dd_ops_ocr_spark.operators import indexing as _indexing  # noqa: E402
from dd_ops_ocr_spark.operators import nonequi as _nonequi  # noqa: E402
from dd_ops_ocr_spark.operators import sessions as _sessions  # noqa: E402
from dd_ops_ocr_spark.operators import routing as _routing  # noqa: E402
from dd_ops_ocr_spark.operators import stats as _stats  # noqa: E402
from dd_ops_ocr_spark.operators import crawlops as _crawlops  # noqa: E402
from dd_ops_ocr_spark.operators import external as _external  # noqa: E402
from dd_ops_ocr_spark.operators import dedup as _dedup  # noqa: E402
from dd_ops_ocr_spark.operators import heuristics as _heuristics  # noqa: E402
from dd_ops_ocr_spark.operators import htmlops as _htmlops  # noqa: E402
from dd_ops_ocr_spark.operators import integrate as _integrate  # noqa: E402
from dd_ops_ocr_spark.operators import joins as _joins  # noqa: E402
from dd_ops_ocr_spark.operators import linkgraph as _linkgraph  # noqa: E402
from dd_ops_ocr_spark.operators import jsonops as _jsonops  # noqa: E402
from dd_ops_ocr_spark.operators import multimodal as _multimodal  # noqa: E402
from dd_ops_ocr_spark.operators import overlap as _overlap  # noqa: E402
from dd_ops_ocr_spark.operators import passages as _passages  # noqa: E402
from dd_ops_ocr_spark.operators import pdf as _pdf  # noqa: E402
from dd_ops_ocr_spark.operators import recrawl as _recrawl  # noqa: E402
from dd_ops_ocr_spark.operators import geometry as _geometry  # noqa: E402
from dd_ops_ocr_spark.operators import merges as _merges  # noqa: E402
from dd_ops_ocr_spark.operators import similarity as _similarity  # noqa: E402
from dd_ops_ocr_spark.operators import textops as _textops  # noqa: E402
from dd_ops_ocr_spark.operators import textstats as _textstats  # noqa: E402
from dd_ops_ocr_spark.operators import typeutils as _typeutils  # noqa: E402
from dd_ops_ocr_spark.operators import urlops as _urlops  # noqa: E402
from dd_ops_ocr_spark.operators import vision as _vision  # noqa: E402
from dd_ops_ocr_spark.operators import warc as _warc  # noqa: E402
from dd_ops_ocr_spark.operators import udtfs as _udtfs  # noqa: E402
from dd_ops_ocr_spark.operators import warcsource as _warcsource  # noqa: E402
from dd_ops_ocr_spark import sources as _sources  # noqa: E402

_register(_sources)
_register(_geometry)
_register(_merges)
_register(_textops)
_register(_dedup)
_register(_textstats)
_register(_similarity)
_register(_multimodal)
_register(_joins)
_register(_overlap)
_register(_heuristics)
_register(_integrate)
_register(_jsonops)
_register(_typeutils)
_register(_urlops)
_register(_htmlops)
_register(_pdf)
_register(_vision)
_register(_catalogops)
_register(_external)
_register(_bpe)
_register(_linkgraph)
_register(_warc)
_register(_warcsource)
_register(_udtfs)
_register(_crawlops)
_register(_recrawl)
_register(_charset)
_register(_passages)
_register(_classify)
_register(_indexing)
_register(_nonequi)
_register(_sessions)
_register(_stats)
_register(_routing)


# ---------------------------------------------------------------- roster order
# The correctness driver samples a PREFIX of this roster (50 queries per
# round, insertion order). Rotation policy (VERDICT r4 #4): every round,
# lead with the queries whose newest driver stamp is oldest — and
# never-stamped NEW queries outrank everything. The r05 head therefore
# leads with the final-day Spark-API families (Python DataSource batch+
# stream, Python UDTFs, catalog row-level deletes/upsert/schema
# evolution), then the final-session analytics families; each
# displacement below names the in-50 family representative that keeps
# the displaced query's capability covered, and the local oracle gate
# (tests/test_oracle_sql.py) still hash-checks every registered query
# on every pytest run regardless of roster position.
_ROSTER_HEAD = [
    # newest — the Python DataSource surface (spark.read.format +
    # writer commit protocol + pushFilters + permissive quarantine):
    # a Spark-API family no earlier stamp represents. They displace
    # html_outlinks and url_normalize past the boundary (both keep
    # in-50 family cover: html_tables/html_main_content, and
    # frontier_new_urls whose oracle restates url_normalize's
    # canonical closed form).
    "warc_source_read",
    "warc_source_quarantine",
    # newest — the Python UDTF surface (lateral table functions + TABLE
    # arguments with PARTITION BY/ORDER BY): another Spark-API family
    # with no earlier stamp. They displace event_value_outliers (event
    # family keeps histogram/rollup/hopping/cardinality in the 50) and
    # fuzzy_match_names (entity_resolution, in the 50, is built on the
    # same fuzzy-pair machinery).
    "udtf_token_explode",
    "udtf_doc_reassemble",
    # newest — merge-on-read positional deletes (catalog.delete_where +
    # read-side anti-join mask): a lakehouse write primitive no stamp
    # represents. Displaces rolling_window (event_hopping_counts keeps
    # sliding-window aggregation represented in the 50).
    "catalog_delete_read",
    # and its write twin: atomic MERGE-by-key (equality delete + append
    # in one snapshot, sequence-scoped). Displaces funnel_stages
    # (attribution + conversion_latency keep the conversion-path
    # family in the 50).
    "catalog_upsert_read",
    # and the read-across-schema-evolution pin (manifest-schema scan,
    # NULL-filled added column). Displaces feed_entries (html_tables +
    # html_interleaved_spans keep structured-HTML parsing in the 50;
    # the feed XML parser is its within-family sibling).
    "catalog_evolution_read",
    # new this round — never stamped; the final-session additions lead
    # (each is a family no earlier stamp represents: exact similarity
    # join, identity resolution, Z-order skipping, graph density,
    # attribution, GROUPING SETS, ANALYZE profile, sliding windows)
    "jaccard_join_exact",
    "entity_resolution",
    "zorder_key",
    "host_triangles",
    "attribution",
    "event_rollup_report",
    "table_profile",
    "event_hopping_counts",
    "bucketed_enrich",
    "warc_records_gz",
    # variant_extract replaces warc_gz_quarantine in the 50-prefix:
    # VARIANT semi-structured extraction is a family no stamp
    # represents, while gz-quarantine is a within-family twin of
    # warc_records_gz (same reader, corrupt-member branch) that the
    # local oracle gate still checks on every pytest run.
    "variant_extract",
    "bm25_topk",
    "event_user_cardinality",
    "fetch_schedule",
    "html_tables",
    "html_interleaved_spans",
    "shard_assign",
    "retention_cohorts",
    "event_value_histogram",
    "host_lang_profile",
    "conversion_latency",
    "cdc_merge",
    "dup_passage_spans",
    "quality_nb_train",
    "tfidf_topk",
    "inverted_index",
    "asof_join",
    "interval_join",
    "session_stats",
    "collocations",
    "anchor_text_agg",
    "host_pagerank",
    "robots_filter",
    "recrawl_delta",
    "charset_transcode",
    "link_graph_pagerank",
    "frontier_new_urls",
    "ccnet_buckets",
    "semdedup",
    "dsir_weights",
    "pdf_text_spans",
    "pdf_doc_audit",
    "html_main_content",
    # --- driver 50-prefix boundary (the driver samples exactly the 50
    # names ABOVE this line; verified by tests/test_roster.py). Names
    # below are never-stamped but rank under the head: core-engine
    # paths outrank the two subsumed html variants (block_classify/
    # strip_tags share html_main_content's machinery), and the
    # remaining rows are within-family variants of stamped
    # representatives — ALL still driver-identically checked by the
    # local oracle gate on every pytest run.
    # displaced by the warc_source_*/udtf_* pairs (see head comments):
    "url_normalize",
    "html_outlinks",
    "event_value_outliers",
    "fuzzy_match_names",
    "rolling_window",
    "funnel_stages",
    "feed_entries",
    "warc_gz_quarantine",
    "flagship_extract_split_landed",
    "engine_dual_extract",
    "bpe_train",
    "bpe_tokenize",
    "lm_familiarity",
    "decontaminate_bloom",
    "pii_redact",
    "html_block_classify",
    "html_strip_tags",
    "url_domain_cap",
    "repetition_stats",
    "corpus_curriculum",
    "media_audio_formats",
    "media_video_delta_frames",
    "line_dedup_global",
    "catalog_skip_scan",
    "topk_ngrams",
    "media_metadata_webp",
    "decontaminate",
    "sample_stratified",
    "sequence_pack",
    "bounded_engine_calls",
    # within-family variant rows displaced by the final-session ops
    # above (their family keeps a stamped representative in the 50;
    # the local oracle gate still checks every one per pytest run):
    "dup_passage_strip",
    "quality_nb_score",
    "containment_pairs",
    "kwic_snippets",
    "sitemap_urls",
    "redirect_resolve",
    "warc_records",
    "warc_quarantine",
    "link_graph_indegree",
    "html_metadata",
    # the remaining final-session ops (twins of stamped family rows):
    "host_clustering",
    "event_value_quantiles",
    "event_daily_dense",
    "event_weekly_trend",
    "event_equidepth",
    # (variant rows of families already sampled continue: g711/adpcm vs
    # audio_formats, video_frames vs delta_frames, upscale/debug_draw
    # vs binarize, native/progressive/interlaced decoder twins,
    # quarantine twins, pytest-heavy surfaces.)
    "media_audio_g711",
    "media_audio_adpcm",
    "media_upscale",
    "repeated_span_strip",
    "media_video_frames",
    "doc_validity_audit",
    "media_audio_features",
    "media_metadata_webp_native",
    "media_video_frames_quarantine",
    "media_audio_quarantine",
    "media_metadata_jpeg_native",
    "media_metadata_jpeg_progressive",
    "media_resize_native_scaled",
    "media_metadata_png_interlaced",
    "media_debug_draw",
    "model_artifact_fetch",
    "catalog_time_travel",
    "media_metadata_quarantine",
    # last stamped r03 (not in CORRECTNESS_r04's 50-prefix)
    "lsh_candidate_pairs",
    "ngram_jaccard",
    "lang_id",
    "quality_score",
    "token_count",
    "doc_fingerprint",
    "ann_brute_topk",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "ann_lsh_topk",
    "embedding_stats",
    "media_metadata",
    "media_metadata_jpeg",
    # (the warc pair + link_graph_pagerank at the head displace three
    # more names past the 50-prefix — same policy, see below)
    # media_frame_sample, engine_zip, dim_enrich_join, media_resize,
    # media_metadata_png — and with the pdf_* pair + html_* trio at the
    # head also ann_ivf_topk, dedup_embedding_cosine, ann_lsh_topk,
    # embedding_stats, media_metadata/_jpeg (now past the driver's
    # 50-prefix) — displaced
    # to keep the sample at the driver's 50-query cap: never-stamped new
    # queries outrank two-round-stale stamps, and the local oracle gate
    # still checks every query on every pytest run; displaced names
    # would lead r06
    "media_metadata_png",
    "media_resize",
]
# r04-stamped flagship path twins: freshest stamps, safe at the very tail
_ROSTER_TAIL = ["flagship_extract_salted", "flagship_extract_sql"]


def _reorder_roster() -> None:
    missing = [n for n in _ROSTER_HEAD + _ROSTER_TAIL if n not in QUERIES]
    assert not missing, f"roster names not registered: {missing}"
    ordered = list(_ROSTER_HEAD)
    ordered += [n for n in QUERIES
                if n not in _ROSTER_HEAD and n not in _ROSTER_TAIL]
    ordered += _ROSTER_TAIL
    reordered = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)


_reorder_roster()
