"""Tests for data-layout ops (compact, range-clustered write), stratified
sampling, and context-window chunking."""

import os

import pytest
from pyspark.sql import functions as F

from etl_manager_spark.operators.layout import compact, sorted_partitioned_write
from etl_manager_spark.operators.sampling import stratified_sample
from etl_manager_spark.operators.text import chunk_documents


def _data_files(path):
    return [
        os.path.join(dp, f)
        for dp, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    ]


def test_compact_shrinks_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(path)
    assert len(_data_files(path)) == 16

    stats = compact(spark, path, target_files=3)
    assert stats == {"files_before": 16, "files_after": 3, "rows": 10_000}
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # no temp/backup dirs left behind
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_compact_can_grow_file_count(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(1_000).coalesce(1).write.parquet(path)
    stats = compact(spark, path, target_files=4)
    assert stats["files_before"] == 1
    assert stats["files_after"] == 4
    assert spark.read.parquet(path).count() == 1_000


def test_compact_rejects_bad_target(spark, tmp_path):
    with pytest.raises(ValueError, match="target_files"):
        compact(spark, str(tmp_path), target_files=0)


def test_sorted_write_produces_disjoint_key_ranges(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(20_000).select(
        (F.pmod(F.col("id") * 7919, F.lit(20_000))).alias("k"),
        F.col("id").alias("payload"),
    )
    sorted_partitioned_write(df, path, range_cols=["k"], n_partitions=5)

    back = spark.read.parquet(path)
    assert back.count() == 20_000
    assert back.agg(F.sum("payload")).first()[0] == sum(range(20_000))

    # range clustering: per-file [min, max] key spans must not interleave
    spans = []
    for f in _data_files(path):
        mm = spark.read.parquet(f).agg(F.min("k"), F.max("k")).first()
        spans.append((mm[0], mm[1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, f"overlapping file key ranges: {spans}"


def test_stratified_sample_fractions_compose(spark):
    df = spark.range(4_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    half = stratified_sample(
        df, "doc_id", "lang", {"en": 0.5, "fr": 0.5}
    )
    fifth = stratified_sample(
        df, "doc_id", "lang", {"en": 0.2, "fr": 0.2}
    )
    half_ids = {r.doc_id for r in half.collect()}
    fifth_ids = {r.doc_id for r in fifth.collect()}
    # nested-fraction property: the 20% sample is a subset of the 50% one
    assert fifth_ids <= half_ids
    # both land near their target rate (md5 is uniform; 4k rows)
    assert 0.4 < len(half_ids) / 4_000 < 0.6
    assert 0.12 < len(fifth_ids) / 4_000 < 0.28


def test_stratified_sample_extremes_and_default(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "keep")
        .when(F.col("id") % 3 == 1, "drop")
        .otherwise("other")
        .alias("lang"),
    )
    out = stratified_sample(
        df, "doc_id", "lang", {"keep": 1.0, "drop": 0.0}, default_fraction=1.0
    )
    langs = {r.lang for r in out.collect()}
    assert langs == {"keep", "other"}
    assert out.filter(F.col("lang") == "keep").count() == 100
    assert out.filter(F.col("lang") == "other").count() == 100


def test_chunk_documents_exact_layout(spark):
    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=4, overlap_tokens=1)
    rows = sorted(out.collect(), key=lambda r: r.chunk_idx)
    # stride 3, n=10 → starts 0, 3, 6; final chunk takes the remaining 4
    assert [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in rows] == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]


def test_chunk_documents_covers_every_token_with_overlap(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(5 + 13 * i))) for i in range(8)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=16, overlap_tokens=4).collect()
    docs = {r.doc_id: [] for r in out}
    for r in out:
        docs[r.doc_id].append(r)
    for i in range(8):
        n = 5 + 13 * i
        toks = [t for r in sorted(docs[i], key=lambda r: r.chunk_idx)
                for t in r.chunk_text.split(" ")]
        # every original token appears, in order, with stride-12 overlap
        assert sorted(set(toks)) == sorted(f"w{i}_{j}" for j in range(n))
        for r in docs[i]:
            assert r.n_tokens == len(r.chunk_text.split(" "))
            assert r.n_tokens <= 16


def test_chunk_documents_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=32, overlap_tokens=8).collect()
    assert len(rows) == 1
    assert rows[0].chunk_idx == 0
    assert rows[0].n_tokens == 3
    assert rows[0].chunk_text == "only three tokens"


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap_tokens=8)


# --------------------------------------------------------------------- #
# Corpus filtering operators


def test_gopher_flags_rules_fire_individually(spark):
    from etl_manager_spark.operators.text import gopher_quality_flags

    docs = spark.createDataFrame(
        [
            # healthy: 12 varied tokens incl. stopwords
            (1, "the quick brown fox jumps over the lazy dog and a cat"),
            # too short
            (2, "the a of"),
            # repetitive: one trigram looped
            (3, " ".join(["spam ham eggs"] * 8)),
            # no stopwords
            (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert flags[1].keep
    assert not flags[2].ok_token_count and not flags[2].keep
    assert not flags[3].ok_repetition and flags[3].ok_token_count
    assert not flags[4].ok_stopwords and flags[4].ok_mean_word_len


def test_repeated_ngram_fraction_bounds(spark):
    from etl_manager_spark.operators.text import repeated_ngram_fraction

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, " ".join(["x y z"] * 5)), (3, "a b")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", repeated_ngram_fraction("text", n=3).alias("f")
        ).collect()
    }
    assert out[1] == 0.0            # all trigrams unique
    assert out[2] > 0.7             # looped text: mostly repeats
    assert out[3] == 0.0            # shorter than n → defined as 0


def test_scrub_pii_replaces_each_kind(spark):
    from etl_manager_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail alice.smith+x@corp.example.co today"),
            (2, "call +44-020-7946-0958 now"),
            (3, "host 192.168.1.254 is up"),
            (4, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.s for r in df.select("doc_id", scrub_pii("text").alias("s")).collect()}
    assert out[1] == "mail <EMAIL> today"
    assert out[2] == "call <PHONE> now"
    assert out[3] == "host <IP> is up"
    assert out[4] == "no pii here at all"


def test_corpus_ngram_counts_threshold(spark):
    from etl_manager_spark.operators.text import corpus_ngram_counts

    df = spark.createDataFrame(
        [(i, "shared header line plus unique tail %d" % i) for i in range(5)],
        "doc_id long, text string",
    )
    out = {r.ngram: r.n_occurrences for r in corpus_ngram_counts(df, n=3, min_count=5).collect()}
    # the shared prefix trigrams appear in all 5 docs; unique tails don't
    assert out["shared header line"] == 5
    assert out["header line plus"] == 5
    assert all(v >= 5 for v in out.values())
    assert not any("tail" in k and "unique" not in k for k in out)


def test_gopher_flags_vectorized_frame_equal(spark, sf_dir):
    """The Arrow path must equal the JVM HOF path row-for-row on the real
    corpus (same flags, same rounded ratios)."""
    from etl_manager_spark.operators.text import (
        gopher_quality_flags,
        gopher_quality_flags_vectorized,
    )
    from etl_manager_spark.workloads.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    jvm = {r.doc_id: r.asDict() for r in gopher_quality_flags(docs).collect()}
    arrow = {
        r.doc_id: r.asDict()
        for r in gopher_quality_flags_vectorized(docs).collect()
    }
    assert jvm == arrow


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    from etl_manager_spark.operators.layout import zorder_write

    path = str(tmp_path / "t")
    # two independent pseudo-uniform columns over [0, 1024)
    df = spark.range(32_768).select(
        F.col("id").alias("payload"),
        F.pmod(F.col("id") * 509, F.lit(1024)).alias("x"),
        F.pmod(F.col("id") * 277, F.lit(1024)).alias("y"),
    )
    zorder_write(df, path, zorder_cols=["x", "y"], n_partitions=16, bits=10)

    back = spark.read.parquet(path)
    assert back.count() == 32_768
    assert back.agg(F.sum("payload")).first()[0] == sum(range(32_768))

    files = _data_files(path)
    assert len(files) == 16
    # every file must cover a hyper-rectangle much smaller than the full
    # domain in BOTH columns (single-column range clustering can only
    # shrink its leading column; z-order shrinks all listed columns)
    spans_x, spans_y = [], []
    for f in files:
        mm = spark.read.parquet(f).agg(
            F.min("x"), F.max("x"), F.min("y"), F.max("y")
        ).first()
        spans_x.append(mm[1] - mm[0])
        spans_y.append(mm[3] - mm[2])
    assert sum(spans_x) / len(spans_x) < 0.55 * 1024, spans_x
    assert sum(spans_y) / len(spans_y) < 0.55 * 1024, spans_y


def test_zorder_value_guards(spark):
    from etl_manager_spark.operators.layout import zorder_value

    with pytest.raises(ValueError, match="at least one"):
        zorder_value([], {}, {})
    with pytest.raises(ValueError, match="interleaved bits"):
        zorder_value(["a", "b"], {"a": 0, "b": 0}, {"a": 1, "b": 1}, bits=32)


def test_chunk_documents_property_vs_python(spark):
    """Property test: chunking must equal a direct Python reference for
    random token counts and (chunk, overlap) parameters — same starts,
    same slices, same final short chunk."""
    from hypothesis import given, settings, strategies as st

    params = st.tuples(
        st.integers(1, 40),                    # n tokens
        st.integers(2, 16),                    # chunk_tokens
        st.integers(0, 8),                     # overlap (clamped below)
    )

    @settings(max_examples=8, deadline=None)
    @given(batch=st.lists(params, min_size=1, max_size=6))
    def check(batch):
        rows, want = [], {}
        for doc_id, (n, chunk, overlap) in enumerate(batch):
            overlap = min(overlap, chunk - 1)
            toks = [f"t{j}" for j in range(n)]
            rows.append((doc_id, " ".join(toks), chunk, overlap))
            stride = chunk - overlap
            starts = [0]
            while starts[-1] + stride + overlap < n:
                starts.append(starts[-1] + stride)
            want[doc_id] = [
                (s // stride, " ".join(toks[s : s + chunk])) for s in starts
            ]
        # group rows by identical (chunk, overlap) so one call covers each
        for chunk, overlap in {(c, o) for _, _, c, o in rows}:
            subset = [(d, t) for d, t, c, o in rows if (c, o) == (chunk, overlap)]
            df = spark.createDataFrame(subset, "doc_id long, text string")
            got = {}
            for r in chunk_documents(
                df, chunk_tokens=chunk, overlap_tokens=overlap
            ).collect():
                got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text))
            for d, _ in subset:
                assert sorted(got[d]) == want[d], (d, chunk, overlap)

    check()


def test_assign_row_ids_dense_ordered_deterministic(spark):
    from etl_manager_spark.operators.sampling import assign_row_ids

    df = spark.range(10_000).select(
        F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("k"),
        F.col("id").alias("orig"),
    )
    out = assign_row_ids(df, order_cols=["k"], n_partitions=7)
    rows = out.orderBy("row_id").collect()
    # dense 0..n-1, and id order == key order
    assert [r.row_id for r in rows] == list(range(10_000))
    assert [r.k for r in rows] == sorted(r.k for r in rows)
    # deterministic across invocations
    again = assign_row_ids(df, order_cols=["k"], n_partitions=7)
    assert {(r.k, r.row_id) for r in again.collect()} == {
        (r.k, r.row_id) for r in rows
    }


def test_assign_row_ids_no_global_single_partition_window(spark):
    """The plan must NOT contain a partition-less window (the whole point:
    global row_number() funnels every row through one task). The
    row_number window must be partitioned by the internal range-partition
    id (``_ocs_part`` since the round-11 delegation to ordered_cumsum)."""
    from etl_manager_spark.operators.sampling import assign_row_ids

    df = spark.range(1000).select(F.col("id").alias("k"))
    plan = assign_row_ids(df, order_cols=["k"])._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    for line in plan.splitlines():
        if "row_number" in line and "windowspecdefinition" in line:
            assert "_ocs_part" in line, line


def test_assign_row_ids_construction_runs_only_the_checkpoint_jobs(spark):
    """Round-11 contract: building the row-id plan triggers ONLY the jobs
    of ordered_cumsum's eager base localCheckpoint — the former shape
    additionally paid a per-partition-counts ``collect`` (an extra eager
    job wave and a driver barrier) plus a ``createDataFrame`` offsets
    re-upload per call. Job counts are deltas of the MAX job id (globally
    monotonic — robust to status-tracker eviction in long suite runs)."""
    from etl_manager_spark.operators.sampling import assign_row_ids

    df = spark.range(10_000).select(
        F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("k")
    )
    tracker = spark.sparkContext.statusTracker()

    def max_job_id() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = max_job_id()
    (
        df.repartitionByRange(7, F.asc("k"))
        .withColumn("_p", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    checkpoint_jobs = max_job_id() - before

    before = max_job_id()
    out = assign_row_ids(df, order_cols=["k"], n_partitions=7)
    construction_jobs = max_job_id() - before
    assert construction_jobs <= checkpoint_jobs, (
        f"construction ran {construction_jobs} jobs vs {checkpoint_jobs} "
        "for the checkpoint alone — an extra eager action (the old "
        "counts collect?) is back"
    )
    assert out.count() == 10_000


def test_incremental_minhash_stored_sigs_equal_recompute(spark, sf_dir):
    """Passing the corpus's pre-computed signature table (the production
    path) must give the identical match set as the recompute fallback,
    and every returned pair must cross the batch/corpus boundary."""
    from etl_manager_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )
    from etl_manager_spark.workloads.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)

    recompute = incremental_minhash_dedup(new_batch, corpus)
    stored = incremental_minhash_dedup(
        new_batch, corpus, corpus_sigs=minhash_signatures(corpus)
    )
    a = {(r.new_id, r.corpus_id, r.jaccard) for r in recompute.collect()}
    b = {(r.new_id, r.corpus_id, r.jaccard) for r in stored.collect()}
    assert a == b
    assert a, "expected at least one cross-set near-dup in the corpus"
    for new_id, corpus_id, _ in a:
        assert new_id % 10 == 0 and corpus_id % 10 != 0


def test_compact_by_target_bytes(spark, tmp_path):
    import os

    from etl_manager_spark.operators.layout import compact

    path = str(tmp_path / "bytes")
    spark.range(20000).repartition(16).write.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )
    # target half the data per file -> exactly 2 output files
    report = compact(spark, path, fmt="parquet", target_file_bytes=-(-total // 2))
    assert report["files_before"] == 16
    assert report["files_after"] == 2
    assert report["rows"] == 20000


def test_compact_requires_exactly_one_target(spark, tmp_path):
    import pytest as _pytest

    from etl_manager_spark.operators.layout import compact

    path = str(tmp_path / "one")
    spark.range(10).write.parquet(path)
    with _pytest.raises(ValueError, match="exactly one"):
        compact(spark, path)
    with _pytest.raises(ValueError, match="exactly one"):
        compact(spark, path, target_files=1, target_file_bytes=100)


def test_temperature_resample_null_stratum_is_sampled(spark):
    """A NULL stratum is a real stratum: it was counted into the quota
    denominator, so an equi-join dropping its rows under-filled the
    total budget silently."""
    from etl_manager_spark.operators.sampling import temperature_resample

    rows = [(i, "web") for i in range(100)] + [(1000 + i, None) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(df, "source", "doc_id", total_budget=50)
    by = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by.get("web", 0) == 25 and by.get(None, 0) == 25
    assert out.count() == 50  # budget actually filled


def test_assign_row_ids_refuses_reserved_names(spark):
    import pytest as _pytest

    from etl_manager_spark.operators.sampling import assign_row_ids

    df = spark.createDataFrame([(1, 2)], "id long, _ocs_part long")
    with _pytest.raises(ValueError, match="_ocs_part"):
        assign_row_ids(df, ["id"])
