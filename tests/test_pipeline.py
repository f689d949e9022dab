"""Layer-3 golden-pipeline tests (SURVEY.md §5): LASER- and TRACE-shaped
pipelines over the domain fixtures, asserting the reference's observable
outputs — counts, gates on seeded bad inputs, descriptor batches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from laser_hadoop_spark.operators import validation as V
from laser_hadoop_spark.plans import pipeline as P
from tests.fixtures import make_domain_fixtures

N_SAMPLES, N_LOCI = 30, 300


@pytest.fixture(scope="module")
def fx(tmp_path_factory):
    return make_domain_fixtures(
        str(tmp_path_factory.mktemp("golden")), n_samples=N_SAMPLES, n_loci=N_LOCI
    )


def test_laser_pipeline_green(spark, fx):
    res = P.laser_validate_and_chunk(
        spark,
        seq_path=fx["seq"],
        site_path=fx["site"],
        groups_path=fx["groups"],
        reference_site_path=fx["ref_site"],
        chunk_size=10,
    )
    assert res.individuals == N_SAMPLES
    assert res.total_sites == N_LOCI
    # fixture plants 70% key overlap, of which the i%10==6 slice is
    # allele-flipped: shared = loci with i%10 in {0..5} -> 60%
    assert res.shared_sites == int(N_LOCI * 0.6)
    assert res.n_chunks == N_SAMPLES // 10
    counts = {r["chunk"]: r["n_rows"] for r in res.chunk_stats.collect()}
    assert all(v == 10 for v in counts.values())


@pytest.mark.parametrize(
    "fixture_key,expected_error",
    [
        ("seq_bad_arity", "SEQ_INVALID_ARITY"),
        ("seq_inconsistent", "SEQ_INCONSISTENT_ARITY"),
        ("seq_unknown_sample", "SEQ_SAMPLE_NOT_IN_GROUP"),
    ],
)
def test_laser_pipeline_gates(spark, fx, fixture_key, expected_error):
    with pytest.raises(V.ValidationError, match=expected_error):
        P.laser_validate_and_chunk(
            spark,
            seq_path=fx[fixture_key],
            site_path=fx["site"],
            groups_path=fx["groups"],
            reference_site_path=fx["ref_site"],
        )


def test_laser_gate_bad_groups(spark, fx):
    with pytest.raises(V.ValidationError, match="GROUP_FILE_INVALID_ROW"):
        P.laser_validate_and_chunk(
            spark,
            seq_path=fx["seq"],
            site_path=fx["site"],
            groups_path=fx["groups_bad_arity"],
            reference_site_path=fx["ref_site"],
        )


def test_laser_gate_shared_loci(spark, fx):
    # raise the gate above the planted shared count -> must fail
    with pytest.raises(V.ValidationError, match="SHARED_LOCI_TOO_FEW"):
        P.laser_validate_and_chunk(
            spark,
            seq_path=fx["seq"],
            site_path=fx["site"],
            groups_path=fx["groups"],
            reference_site_path=fx["ref_site"],
            min_shared_loci=N_LOCI,
        )


def test_site_header_gate(spark, fx):
    import gzip

    with gzip.open(fx["site_bad_header"], "rt") as f:
        header = f.readline().rstrip("\n").split("\t")
    with pytest.raises(V.ValidationError, match="SITE_HEADER_INVALID"):
        V.check_site_header(header)


def test_trace_pipeline_green(spark, fx):
    res = P.trace_validate(
        spark,
        vcf_paths=[fx["vcf"]],
        groups_path=fx["groups"],
        reference_site_path=fx["ref_site"],
    )
    assert res.individuals == N_SAMPLES
    assert res.total_loci == N_LOCI
    assert res.shared_loci == int(N_LOCI * 0.6)
    assert res.metadata()["Format"] == "vcf"


def test_trace_multi_file_consistent(spark, fx):
    res = P.trace_validate(
        spark,
        vcf_paths=[fx["vcf"], fx["vcf2"]],
        groups_path=fx["groups"],
        reference_site_path=fx["ref_site"],
    )
    assert res.individuals == N_SAMPLES


def test_trace_descriptors(spark):
    desc = P.trace_job_descriptors(
        spark,
        n_individuals=95,
        batch_size=20,
        reference="panel",
        study_vcf="study.vcf.gz",
        reference_pc="panel.pc",
    )
    rows = desc.collect()
    # 5 batches x 2 kinds; ranges tile 1..95 without gaps
    assert len(rows) == 10
    v2g = sorted(
        (r["start_ind"], r["end_ind"]) for r in rows if r["kind"] == "vcf2geno"
    )
    assert v2g == [(1, 20), (21, 40), (41, 60), (61, 80), (81, 95)]
    ids = sorted({r["batch_id"] for r in rows})
    assert ids == ["00000", "00001", "00002", "00003", "00004"]
    import json

    payload = json.loads(rows[0]["payload"])
    assert {"batch", "start", "end", "reference"} <= set(payload)


def test_validate_single_pass_shape(spark, fx):
    """validate() evaluates all constraints in one aggregate scan."""
    from laser_hadoop_spark.sources import readers

    g = readers.read_groups(spark, fx["groups"])
    out = V.validate(g, V.groups_constraints())
    rows = {r["error"]: r["n_violations"] for r in out.collect()}
    assert rows == {"GROUP_FILE_INVALID_ROW": 0}


def test_curation_pipeline_stages(spark, sf_dir):
    from laser_hadoop_spark.plans.curation import curate_documents
    from laser_hadoop_spark.tables import table as load

    docs = load(spark, sf_dir, "documents")
    res = curate_documents(docs, near_dup=True, max_hamming=3)
    c = res.stage_counts
    assert c["input"] >= c["after_filters"] >= c["after_near_dup"] > 0
    kept = res.kept
    assert kept.count() == c["after_near_dup"]
    # survivors are unique by normalized fingerprint (stage 1 held)
    from laser_hadoop_spark.operators.dedup import normalized_fingerprint

    n_fp = kept.select(normalized_fingerprint().alias("fp")).distinct().count()
    assert n_fp == c["after_near_dup"]
    # every survivor is labeled an allowed language
    langs = {r["predicted_lang"] for r in kept.select("predicted_lang").distinct().collect()}
    assert langs == {"en"}


def test_pretrain_plan_end_to_end(spark, sf_dir):
    """plans/pretrain: curation -> decontamination -> quota sampling ->
    chunking composes lazily and the accounting aggregate is consistent
    with the chunk table."""
    from laser_hadoop_spark.plans.pretrain import pretrain_plan
    from laser_hadoop_spark.tables import table

    d = table(spark, sf_dir, "documents")
    res = pretrain_plan(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        docs_per_source=10,
        chunk_size=32,
        chunk_stride=24,
    )
    stats = {r.source: (r.n_docs, r.n_chunks, r.n_tokens) for r in res.source_stats.collect()}
    assert stats, "pipeline produced no sources"
    assert all(n_docs <= 10 for n_docs, _, _ in stats.values())
    # chunk table agrees with the aggregate
    n_chunks = res.chunks.count()
    assert n_chunks == sum(c for _, c, _ in stats.values())
    # every chunk has at most chunk_size tokens, and tails are full-size
    # whenever the doc has >= chunk_size tokens
    sizes = res.chunks.select(
        F.size(F.split("chunk_text", " ")).alias("n")
    ).agg(F.max("n").alias("mx")).first()
    assert sizes.mx <= 32
    # benchmark source never leaks through
    assert res.chunks.where(F.col("source") == "src0").count() == 0


def test_curation_dedup_strategies_agree(spark, sf_dir):
    """Both stage-1 physical shapes (window / semi_join) produce the
    identical curated set — strategy changes layout, never results."""
    from laser_hadoop_spark.plans.curation import curation_plan
    from laser_hadoop_spark.tables import table

    d = table(spark, sf_dir, "documents")
    a = curation_plan(d, dedup_strategy="window").select("doc_id")
    b = curation_plan(d, dedup_strategy="semi_join").select("doc_id")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_curation_filters_run_on_every_core(spark, sf_dir):
    """The stage after the fingerprint shuffle (the dedup window and
    every quality and language filter) runs as one task per core: its
    exchange is a fixed-width repartition that AQE does not coalesce.
    The rows are the semi_join strategy's, which has no such stage."""
    from laser_hadoop_spark.plans.curation import curation_plan
    from laser_hadoop_spark.tables import table

    sc = spark.sparkContext
    d = table(spark, sf_dir, "documents")
    sc.setJobGroup("curation-width", "curation-width")
    try:
        got = curation_plan(d).collect()
    finally:
        sc.setJobGroup("", "")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = {
        sid: store.lastStageAttempt(sid)
        for j in sc.statusTracker().getJobIdsForGroup("curation-width")
        for sid in sc.statusTracker().getJobInfo(j).stageIds
    }
    readers = [st for st in stages.values() if st.shuffleReadBytes() > 0]
    assert len(readers) == 1, len(readers)
    assert readers[0].numTasks() == sc.defaultParallelism > 1
    want = curation_plan(d, dedup_strategy="semi_join").collect()
    assert sorted(got) == sorted(want)


def test_incremental_ingest_dedup_and_idempotence(spark, tmp_path):
    """plans/incremental.py: batch 2 dedups against batch 1's digest
    store (never the corpus itself), within-batch dups collapse to the
    first doc, quality rejects never reach the corpus, and re-running
    a batch is a no-op (idempotent retries — the engine's answer to
    the reference's max.attempts=1)."""
    from laser_hadoop_spark.plans.incremental import ingest_batch

    corpus = str(tmp_path / "corpus")
    digests = str(tmp_path / "digests")
    good = (
        "the quick brown fox jumps over the lazy dog and runs on to the"
        " hills where it is seen by many of the people walking there"
    )
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    b1 = mk(
        [
            (1, good, "en", "s0", len(good)),
            (2, good + " again and again", "en", "s0", 10),
            (3, "short", "en", "s0", 5),  # quality reject (too short)
        ]
    )
    c1 = ingest_batch(
        spark, b1, batch_id="b1", corpus_dir=corpus, digest_dir=digests
    )
    assert c1 == {
        "n_input": 3,
        "n_quality_rejected": 1,
        "n_dup_in_batch": 0,
        "n_dup_history": 0,
        "n_ingested": 2,
    }
    b2 = mk(
        [
            (10, good, "en", "s1", len(good)),  # dup of history (doc 1)
            (11, good + " but genuinely new material appears here in the"
                 " second half of this new document text", "en", "s1", 10),
            (12, good + " but genuinely new material appears here in the"
                 " second half of this new document text", "en", "s1", 10),
            # ^ within-batch dup of 11 -> curation keeps min id
        ]
    )
    c2 = ingest_batch(
        spark, b2, batch_id="b2", corpus_dir=corpus, digest_dir=digests
    )
    assert c2["n_dup_history"] == 1 and c2["n_ingested"] == 1
    assert c2["n_dup_in_batch"] == 1 and c2["n_quality_rejected"] == 0
    got = spark.read.parquet(corpus)
    assert got.count() == 3  # docs 1, 2, 11
    assert {r["doc_id"] for r in got.collect()} == {1, 2, 11}
    # idempotent FULL re-run of batch 2 (the crash-retry path): its
    # partition is dynamically overwritten, not appended; every doc
    # dedups against the digests the first run wrote; corpus and
    # store unchanged
    c2b = ingest_batch(
        spark, b2, batch_id="b2", corpus_dir=corpus, digest_dir=digests
    )
    assert c2b["n_ingested"] == 0
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(digests).count() == 3
    # crash-window retry: corpus partition written but digests lost —
    # the retry must overwrite the partition (same content, no dupes)
    import shutil

    shutil.rmtree(digests)
    c2c = ingest_batch(
        spark, b2, batch_id="b2", corpus_dir=corpus, digest_dir=digests
    )
    # with the whole store gone (b1's digests included), doc 10 no
    # longer dedups against history: both 10 and 11 land — and the b2
    # partition is REPLACED with those 2 rows, never appended to
    assert c2c["n_ingested"] == 2
    got2 = spark.read.parquet(corpus)
    assert got2.where("ingest_batch = 'b2'").count() == 2


def test_trace_end_to_end_sftp_staged_multi_vcf(spark, fx, tmp_path):
    """Round-4 verdict item 6: the full TRACE ingest composed in one
    run — S6 (seeded local:// SFTP staging of a multi-VCF drop) -> S3
    (VCF scan+melt) -> J2/J3 (group membership) -> A3/A4/A5 (per-batch
    distinct-individual counters, TRACEInputValidator.java:221-233) ->
    P7 (shared-loci threshold gate). Asserts the staged run produces
    counter parity with the direct-path run, and that a seeded
    inconsistent batch (fewer samples in one file) trips the
    VCF_INCONSISTENT_INDIVIDUALS gate, reference semantics."""
    import shutil

    from laser_hadoop_spark.sources.sftp import fetch_to_staging

    # a "remote" drop directory with two consistent VCFs
    drop = tmp_path / "drop"
    drop.mkdir()
    shutil.copy(fx["vcf"], drop / "study.vcf.gz")
    shutil.copy(fx["vcf2"], drop / "study2.vcf.gz")

    staging = tmp_path / "staging"
    staged = fetch_to_staging(f"local://{drop}", str(staging))
    assert len(staged) == 2 and all(p.startswith(str(staging)) for p in staged)

    res = P.trace_validate(
        spark,
        vcf_paths=sorted(staged),
        groups_path=fx["groups"],
        reference_site_path=fx["ref_site"],
    )
    direct = P.trace_validate(
        spark,
        vcf_paths=[fx["vcf"], fx["vcf2"]],
        groups_path=fx["groups"],
        reference_site_path=fx["ref_site"],
    )
    # staging must be a pure transport: identical counters either way
    assert res.metadata() == direct.metadata()
    assert res.individuals == N_SAMPLES
    assert res.shared_loci == int(N_LOCI * 0.6)

    # seed an inconsistent batch: same loci, HALF the samples — the
    # per-batch distinct-individuals consistency gate must trip
    import random

    from tests.fixtures import _write_vcf

    short = drop / "study_short.vcf.gz"
    samples = [f"S{i:04d}" for i in range(N_SAMPLES // 2)]
    loci = [("1", 100 + i, f"rs{i}", "A", "C") for i in range(5)]
    _write_vcf(str(short), samples, loci, random.Random(7))
    staging2 = tmp_path / "staging2"
    staged2 = fetch_to_staging(f"local://{drop}", str(staging2))
    assert len(staged2) == 3
    with pytest.raises(V.ValidationError, match="VCF_INCONSISTENT_INDIVIDUALS"):
        P.trace_validate(
            spark,
            vcf_paths=sorted(staged2),
            groups_path=fx["groups"],
            reference_site_path=fx["ref_site"],
        )
