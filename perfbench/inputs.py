"""Seeded, cached inputs for the four benchmark workloads.

Every input is a pure function of ``(workload, seed)``: span documents
come from ``corpus.doc_spans`` over seed-derived doc keys and texts, media
payloads from ``multimodal.synth_jpeg_payload`` over seed-derived
``media_ref``s. Each input is landed once as parquet under
``perfbench/_cache`` through ``fixture_cache.cached_fixture`` (build in a
tmp dir, publish with one atomic rename), keyed on the workload, the seed,
``corpus.GENERATOR_VERSION`` and ``INPUT_VERSION``. Landing needs no Spark
session; the program under test only ever sees the landed tables.

Span tables land in ``corpus.land_spans``'s layout: hive-partitioned by
``size_class`` (``big`` when a doc's last page index reaches
``PAGES_PER_BUCKET``), a fixed number of files per class.

Each landed input carries ``input.json`` with its recorded properties
(docs, spans, tail-doc share, spans in tail docs, delta new/seen mix,
payload count, input bytes) and, for span inputs, ``oracle.parquet``: the
frozen DuckDB flagship oracle's per-doc digests over the landed files.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from dd_ops_ocr_spark import corpus, fixtures
from dd_ops_ocr_spark.fixture_cache import cached_fixture
from dd_ops_ocr_spark.plans.salting import PAGES_PER_BUCKET
from dd_ops_ocr_spark.schema import STRIDE

from perfbench import oracle

# Bump when a generator below changes its output for the same seed.
INPUT_VERSION = 3

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, "_cache")

STEADY_DOCS = 1600
SKEWED_DOCS = 800
SKEWED_TAIL_EVERY = 10          # one doc in ten is a 100-page tail doc
INVALID_EVERY = 250             # one doc in 250 lands with an empty span list
FILES_PER_CLASS = 16
INCR_BASE_DOCS = 400
INCR_DELTAS = 26
INCR_DELTA_NEW = 100
INCR_DELTA_SEEN = 200
MEDIA_PAYLOADS = 4000
MEDIA_FILES = 16

_WORDS = (
    "agreement party term article clause section payment notice schedule "
    "liability warranty confidential obligation effective date governing "
    "law dispute amendment annex exhibit invoice delivery service provider "
    "customer license fee period renewal breach remedy consent assignment"
).split()


def _key_base(seed: int) -> int:
    # doc keys of different seeds never overlap (10^7 keys per seed)
    return (seed % 100_000) * 10_000_000


def _text(key: int) -> str:
    """Seeded base text a document's spans are sliced from."""
    n = 60 + corpus.rng(key, 90) % 60
    return " ".join(_WORDS[corpus.rng(key, 91, i) % len(_WORDS)] for i in range(n))


def _steady_keys(seed: int, n: int) -> list[int]:
    """Consecutive keys: the generator's natural page distribution (1-5
    pages; keys = TAIL_RESIDUE mod TAIL_MOD are the ~1% 100-page docs)."""
    base = _key_base(seed)
    return [base + i for i in range(n)]


def _skewed_keys(seed: int, n: int) -> list[int]:
    """Tail-heavy keys: every SKEWED_TAIL_EVERY-th key is a tail key
    (= TAIL_RESIDUE mod TAIL_MOD), the rest are drawn off the residue."""
    m = corpus.TAIL_MOD
    first = -(-_key_base(seed) // m) * m  # first multiple of TAIL_MOD
    keys = []
    for i in range(n):
        if i % SKEWED_TAIL_EVERY == 0:
            r = corpus.TAIL_RESIDUE
        else:
            r = corpus.rng(seed, 17, i) % (m - 1)
            r += r >= corpus.TAIL_RESIDUE
        keys.append(first + i * m + r)
    return keys


def _spans_table(keys: list[int], invalid_ids: list[str] = ()) -> pa.Table:
    """(doc_id, spans, size_class) rows: generated docs, then planted
    empty-span docs that the job must route to quarantine."""
    ids, spans, cls = [], [], []
    for k in keys:
        s = corpus.doc_spans(k, _text(k))
        ids.append(corpus.doc_id_str(k))
        spans.append(s)
        last_page = max(x["offset"] for x in s) // STRIDE
        cls.append("big" if last_page >= PAGES_PER_BUCKET else "small")
    for d in invalid_ids:
        ids.append(d)
        spans.append([])
        cls.append("small")
    return pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "spans": pa.array(spans, fixtures._ARROW_SCHEMA.field("spans").type),
        "size_class": pa.array(cls, pa.string()),
    })


def _land_spans(tbl: pa.Table, path: str, n_files: int = FILES_PER_CLASS) -> None:
    """Write ``tbl`` hive-partitioned by size_class, rows dealt
    round-robin over ``n_files`` files per class."""
    classes = tbl.column("size_class").to_pylist()
    for c in ("small", "big"):
        rows = [i for i, v in enumerate(classes) if v == c]
        if not rows:
            continue
        part = os.path.join(path, f"size_class={c}")
        os.makedirs(part)
        sub = tbl.take(rows).drop_columns(["size_class"])
        for f in range(min(n_files, len(rows))):
            pq.write_table(sub.take(list(range(f, len(rows), n_files))),
                           os.path.join(part, f"part-{f:05d}.parquet"))


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def _span_props(spans_dir: str) -> dict:
    """Recorded input properties of a landed spans table (DuckDB)."""
    import duckdb

    q = f"""
    SELECT count(*), sum(len(spans)),
           count(*) FILTER (WHERE len(spans) = 0),
           count(*) FILTER (WHERE size_class = 'big'),
           coalesce(sum(len(spans)) FILTER (WHERE size_class = 'big'), 0)
    FROM read_parquet('{spans_dir}/**/*.parquet', hive_partitioning = true)
    """
    with duckdb.connect() as con:
        docs, spans, invalid, tail_docs, tail_spans = con.execute(q).fetchone()
    return {
        "docs": int(docs),
        "spans": int(spans),
        "invalid_docs": int(invalid),
        "tail_docs": int(tail_docs),
        "tail_doc_share": round(tail_docs / docs, 4),
        "tail_span_share": round(tail_spans / max(spans, 1), 4),
        "input_bytes": dir_bytes(spans_dir),
    }


def _dump(tmp: str, props: dict) -> None:
    with open(os.path.join(tmp, "input.json"), "w") as f:
        json.dump(props, f)


def _land_batch(tmp: str, keys: list[int], seed: int) -> None:
    invalid = [f"bad_{seed}_{i}" for i in range(len(keys) // INVALID_EVERY)]
    spans = os.path.join(tmp, "spans")
    _land_spans(_spans_table(keys, invalid), spans)
    oracle.per_doc_oracle(spans, os.path.join(tmp, "oracle.parquet"))
    _dump(tmp, _span_props(spans))


def _land_incremental(tmp: str, seed: int) -> None:
    """A base snapshot batch plus INCR_DELTAS append batches. Each append
    carries INCR_DELTA_NEW unseen docs and about INCR_DELTA_SEEN docs
    already committed (drawn from the base and earlier deltas)."""
    keys = _steady_keys(seed, INCR_BASE_DOCS + INCR_DELTAS * INCR_DELTA_NEW)
    tbl = _spans_table(keys)
    pool = os.path.join(tmp, "pool")
    _land_spans(tbl, pool, n_files=1)
    tbl = tbl.drop_columns(["size_class"])

    def land(name: str, rows: list[int]) -> None:
        os.makedirs(os.path.join(tmp, name))
        pq.write_table(tbl.take(rows), os.path.join(tmp, name, "part-00000.parquet"))

    land("base", list(range(INCR_BASE_DOCS)))
    mix, new_ids = [], []
    for d in range(INCR_DELTAS):
        lo = INCR_BASE_DOCS + d * INCR_DELTA_NEW
        seen = sorted({corpus.rng(seed, 23, d, j) % lo for j in range(INCR_DELTA_SEEN)})
        new = list(range(lo, lo + INCR_DELTA_NEW))
        land(f"delta_{d:03d}", seen + new)
        mix.append((len(new), len(seen)))
        new_ids.append([corpus.doc_id_str(keys[i]) for i in new])
    oracle.per_doc_oracle(pool, os.path.join(tmp, "oracle.parquet"))
    delta_bytes = [dir_bytes(os.path.join(tmp, f"delta_{d:03d}")) for d in range(INCR_DELTAS)]
    props = _span_props(pool)
    props.update(
        base_docs=INCR_BASE_DOCS,
        deltas=INCR_DELTAS,
        delta_seen=[s for _, s in mix],
        delta_new_share=round(sum(n for n, _ in mix) / sum(n + s for n, s in mix), 4),
        delta_bytes=delta_bytes,
        input_bytes=sum(delta_bytes) // INCR_DELTAS,
        # each append must commit exactly its delta's new docs
        delta_new_ids=new_ids,
    )
    _dump(tmp, props)


def media_refs(seed: int, n: int) -> list[str]:
    """Seeded ``media_ref``s in the corpus generator's naming scheme."""
    base = _key_base(seed)
    return [
        f"img_{base + corpus.rng(seed, 31, i) % 1_000_000}_{i % 5}_{i}"
        for i in range(n)
    ]


def _land_media(tmp: str, seed: int) -> None:
    """(media_ref, payload) rows; the expected geometry rides in
    input.json."""
    from dd_ops_ocr_spark.operators.multimodal import (
        synth_geometry,
        synth_jpeg_payload,
    )

    refs = media_refs(seed, MEDIA_PAYLOADS)
    payloads = [synth_jpeg_payload(r) for r in refs]
    out = os.path.join(tmp, "media")
    os.makedirs(out)
    tbl = pa.table({"media_ref": pa.array(refs, pa.string()),
                    "payload": pa.array(payloads, pa.binary())})
    for f in range(MEDIA_FILES):
        pq.write_table(tbl.take(list(range(f, len(refs), MEDIA_FILES))),
                       os.path.join(out, f"part-{f:05d}.parquet"))
    _dump(tmp, {
        "payloads": len(refs),
        "payload_bytes": sum(map(len, payloads)),
        "input_bytes": dir_bytes(out),
        "expect": {r: [*synth_geometry(r), len(p)] for r, p in zip(refs, payloads)},
    })


def land(workload: str, seed: int) -> tuple[str, dict]:
    """Return (input dir, recorded properties), landing it first if this
    (workload, seed) has not been landed yet."""
    name = f"{workload}_s{seed}_g{corpus.GENERATOR_VERSION}_i{INPUT_VERSION}"
    builders = {
        "batch_steady": lambda t: _land_batch(t, _steady_keys(seed, STEADY_DOCS), seed),
        "batch_skewed": lambda t: _land_batch(t, _skewed_keys(seed, SKEWED_DOCS), seed),
        "incremental_small": lambda t: _land_incremental(t, seed),
        "media_decode": lambda t: _land_media(t, seed),
    }
    path = cached_fixture(os.path.join(CACHE_DIR, name), builders[workload])
    with open(os.path.join(path, "input.json")) as f:
        return path, json.load(f)
