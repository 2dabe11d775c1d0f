"""Unit tests: lineage/resume semantics, SIM kernel golden cases,
dedup/similarity/text-analysis operators."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from indonesian_id_ocr_service_spark.operators import sim_core
from indonesian_id_ocr_service_spark.sinks.lineage import ExtractionRun


# ---------------------------------------------------------------------------
# SIM kernel golden cases (reference semantics, sim_extractor.py cites
# inside sim_core)
# ---------------------------------------------------------------------------


def test_sim_detect_version():
    assert sim_core.detect_version(["1. Nama BUDI", "2. BOGOR"]) == "LEGACY"
    assert sim_core.detect_version(["Nama", "BUDI"]) == "SMART"


def test_sim_rtrw_ocr_recovery():
    # sim_extractor.py:117-121 docstring: '0210' + '6 JATIUWUNG'
    assert sim_core.split_rtrw_ocr("0210", "6 JATIUWUNG") == (
        "02", "06", "JATIUWUNG")
    assert sim_core.split_rtrw_ocr("01", "") is None  # < 5 digits


def test_sim_garbage_and_job():
    assert sim_core.is_garbage("SEPEDA MOTOR 250 CC")
    assert sim_core.is_garbage("INDONESIA")
    assert not sim_core.is_garbage("BUDI SANTOSO")
    assert sim_core.is_job("KARYAWAN SWASTA")
    assert sim_core.is_job("WIRASWASTA")
    assert not sim_core.is_job("JL. MERDEKA 5")


def test_sim_legacy_sections():
    rows = [
        "SIM A 1234-5678-90123",
        "1. BUDI SANTOSO",
        "2. BOGOR, 15-08-1990",
        "3. AB - PRIA",
        "4. JL. MERDEKA NO. 5",
        "RT 02 RW 06 SUKAMAJU",
        "KEC. CILEUNGSI KOTA BOGOR",
        "5. PETANI",
        "BERLAKU SAMPAI 11-07-2027",
        "POLDA METRO JAYA",
    ]
    out = sim_core.extract_legacy(rows)
    assert out["Nomor SIM"] == "1234-5678-90123"
    assert out["Nama"] == "BUDI SANTOSO"
    assert out["Berlaku Sampai"] == "11-07-2027"
    assert out["Gol. Darah"] == "AB"
    assert out["Jenis Kelamin"] == "PRIA"
    assert out["Pekerjaan"] == "PETANI"
    final = sim_core.cleanup_common(sim_core.post_process_common(out))
    assert final["Tanggal Lahir"] == "15-08-1990"
    assert final["Tempat Lahir"] == "BOGOR"
    assert final["Jenis Kelamin"] == "LAKI-LAKI"
    assert final["alamat"]["rt_rw"] == "02/06"
    assert final["alamat"]["kel_desa"] == "SUKAMAJU"
    # the reference assigns the WHOLE region line as kabupaten when the
    # KEC line is also the bottom-up city match (sim_extractor.py:807-815)
    assert final["alamat"]["kabupaten"] == "KEC. CILEUNGSI KOTA BOGOR"


def test_sim_address_block_rtrw_pivot():
    addr = sim_core.parse_address_block(
        ["JL. MAWAR NO. 3 RT 04/09 MEKARSARI", "KEC. SERPONG",
         "KOTA TANGERANG"])
    assert addr["rt_rw"] == "04/09"
    assert addr["name"] == "JL. MAWAR NO. 3"
    assert addr["kel_desa"] == "MEKARSARI"
    assert addr["kecamatan"] == "SERPONG"
    assert addr["kabupaten"] == "KOTA TANGERANG"


# ---------------------------------------------------------------------------
# Lineage / resume
# ---------------------------------------------------------------------------


def test_lineage_resume(spark, tmp_path):
    from indonesian_id_ocr_service_spark.corpus.generator import doc_rows

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL,
    )

    rows = list(doc_rows(40, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)

    calls = []

    def fake_pipeline(part):
        calls.append(1)
        return part.select("doc_id")

    run = ExtractionRun(str(tmp_path / "run1"), run_id=str(uuid.uuid4()),
                        n_buckets=4)
    r1 = run.process(spark, df, fake_pipeline)
    assert r1["buckets_run"] == 4 and r1["rows"] == 40
    # ALL pending buckets processed by ONE pipeline invocation (one
    # source scan), not one per bucket
    assert len(calls) == 1

    # resume: everything committed → nothing re-runs
    r2 = run.process(spark, df, fake_pipeline)
    assert r2["buckets_run"] == 0 and r2["buckets_skipped"] == 4
    assert len(calls) == 1

    # simulate a lost bucket: drop one lineage line
    lines = open(run.lineage_path).read().strip().splitlines()
    with open(run.lineage_path, "w") as f:
        f.write("\n".join(lines[:-1]) + "\n")
    r3 = run.process(spark, df, fake_pipeline)
    assert r3["buckets_run"] == 1
    assert len(calls) == 2
    # the recovered bucket's rows are intact alongside committed ones
    total = spark.read.parquet(run.results_dir).count()
    assert total == 40


def test_extraction_metrics(spark):
    from indonesian_id_ocr_service_spark.sinks.lineage import (
        extraction_metrics,
    )

    df = spark.createDataFrame(
        [("d1", "KTP", "3201070107920001", "BUDI", "BOGOR", "01-07-1992",
          "LAKI-LAKI", "ISLAM", "KAWIN", "PETANI", "WNI",
          "JL. X", "001/002", "SUKAMAJU", "SERPONG", "BOGOR",
          "JAWA BARAT"),
         ("d2", "KTP", None, None, None, None, None, None, None, None,
          None, None, None, None, None, None, None)],
        ["doc_id", "document_type", "nomor", "nama", "tempat_lahir",
         "tgl_lahir", "jenis_kelamin", "agama", "status_perkawinan",
         "pekerjaan", "kewarganegaraan", "alamat_name", "alamat_rt_rw",
         "alamat_kel_desa", "alamat_kecamatan", "alamat_kabupaten",
         "alamat_provinsi"])
    rows = {r["doc_id"]: r for r in extraction_metrics(df).collect()}
    assert rows["d1"]["fields_found"] == 15
    assert not rows["d1"]["missing_critical"]
    assert rows["d1"]["weighted_completeness"] == 1.0
    assert abs(rows["d1"]["nik_structural_bonus"] - 0.08) < 1e-9
    assert rows["d2"]["fields_found"] == 0
    assert rows["d2"]["missing_critical"]


def test_lineage_stale_partials_dropped(spark, tmp_path):
    """A crashed (un-logged) earlier run's partials in a pending bucket
    must NOT survive into that bucket's commit when the re-run produces
    0 rows for it — dynamic partition overwrite alone would leave the
    stale directory untouched (ADVICE r3)."""
    import os

    from pyspark.sql import functions as F

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    rows = list(doc_rows(40, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)

    run = ExtractionRun(str(tmp_path / "runx"), run_id=str(uuid.uuid4()),
                        n_buckets=4)
    # stale partial left by a crashed, never-logged run
    stale_dir = os.path.join(run.results_dir, "bucket=2")
    spark.createDataFrame([("STALE-DOC",)], "doc_id string") \
        .coalesce(1).write.parquet(stale_dir)

    bucket_expr = (
        F.conv(F.substring(F.md5(F.col("doc_id")), 1, 6), 16, 10)
        .cast("long") % 4
    ).cast("int")

    def pipeline_drops_bucket2(part):
        # produces 0 output rows for bucket 2, normal rows elsewhere
        return part.select("doc_id").filter(bucket_expr != 2)

    n_b2 = df.filter(bucket_expr == 2).count()
    assert n_b2 > 0  # the scenario is real: bucket 2 has input docs

    res = run.process(spark, df, pipeline_drops_bucket2)
    assert res["buckets_run"] == 4
    # the stale partial was neither counted nor kept
    assert res["rows"] == 40 - n_b2
    out_ids = {r["doc_id"]
               for r in spark.read.parquet(run.results_dir).collect()}
    assert "STALE-DOC" not in out_ids
    # bucket 2 committed with rows=0 in lineage
    committed = {}
    with open(run.lineage_path) as f:
        import json as _json
        for line in f:
            rec = _json.loads(line)
            committed[rec["bucket"]] = rec["rows"]
    assert committed[2] == 0


def test_metrics_month_partition(spark, tmp_path):
    """Metrics land under a log_month=YYYY-MM partition (the Spark
    re-expression of the reference's ocr_logs/YYYY-MM layout,
    app.py:56-67) and month reads prune to one directory."""
    import os

    run = ExtractionRun(str(tmp_path / "runm"), run_id="r-1",
                        n_buckets=4)
    fields = spark.createDataFrame(
        [("d1", "KTP", "3201070107920001", "BUDI", "BOGOR",
          "01-07-1992", "LAKI-LAKI", "ISLAM", "KAWIN", "PETANI", "WNI",
          "JL. X", "001/002", "SUKAMAJU", "SERPONG", "BOGOR",
          "JAWA BARAT")],
        ["doc_id", "document_type", "nomor", "nama", "tempat_lahir",
         "tgl_lahir", "jenis_kelamin", "agama", "status_perkawinan",
         "pekerjaan", "kewarganegaraan", "alamat_name", "alamat_rt_rw",
         "alamat_kel_desa", "alamat_kecamatan", "alamat_kabupaten",
         "alamat_provinsi"])
    m1 = run.write_metrics(fields, log_month="2026-07")
    m2 = run.write_metrics(fields, log_month="2026-08")
    assert (m1, m2) == ("2026-07", "2026-08")
    assert os.path.isdir(
        os.path.join(run.metrics_dir, "log_month=2026-07", "run_id=r-1"))
    back = spark.read.parquet(run.metrics_dir)
    assert back.count() == 2
    july = back.filter(back.log_month == "2026-07")
    assert july.count() == 1
    assert july.collect()[0]["fields_found"] == 15
    # default month stamps the current UTC month
    m3 = run.write_metrics(fields)
    import re
    assert re.fullmatch(r"\d{4}-\d{2}", m3)


def test_process_with_metrics_hook(spark, tmp_path):
    """One resumable process() call commits results + lineage AND the
    month-partitioned metrics for exactly the fresh buckets (the
    results/lineage/metrics triple of the north star)."""
    import os

    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)
    from indonesian_id_ocr_service_spark.pipeline import (
        run_pipeline_fields,
    )

    rows = list(doc_rows(30, fractions=(1.0, 0, 0)))
    df = spark.createDataFrame(rows, SPAN_SCHEMA_DDL)
    run = ExtractionRun(str(tmp_path / "runm2"), run_id="rm",
                        n_buckets=4)
    res = run.process(
        spark, df, run_pipeline_fields,
        metrics_fn=lambda out: out,   # fields frame IS the metrics input
        log_month="2026-08")
    assert res["buckets_run"] == 4
    mdir = os.path.join(run.metrics_dir, "log_month=2026-08",
                        "run_id=rm")
    assert os.path.isdir(mdir)
    mets = spark.read.parquet(run.metrics_dir)
    assert mets.count() == res["rows"] > 0
    assert {"doc_id", "fields_found", "weighted_completeness"} \
        <= set(mets.columns)
    # a resume with nothing pending writes no further metrics
    res2 = run.process(spark, df, run_pipeline_fields,
                       metrics_fn=lambda out: out, log_month="2026-08")
    assert res2["buckets_run"] == 0
    assert spark.read.parquet(run.metrics_dir).count() == res["rows"]


def _fresh_process(spark, tmp_path, name, n_docs=60, n_buckets=8):
    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)

    df = spark.createDataFrame(list(doc_rows(n_docs, fractions=(1.0, 0, 0))),
                               SPAN_SCHEMA_DDL)
    run = ExtractionRun(str(tmp_path / name), run_id=name,
                        n_buckets=n_buckets)
    res = run.process(spark, df, lambda part: part.select("doc_id"))
    return run, res


def test_process_lineage_counts_match_disk(spark, tmp_path):
    """The lineage rows, counted during the write, equal each bucket's
    row count read back from the committed table."""
    import json

    run, res = _fresh_process(spark, tmp_path, "counts")
    on_disk = {r["bucket"]: r["count"] for r in
               spark.read.parquet(run.results_dir)
               .groupBy("bucket").count().collect()}
    with open(run.lineage_path) as f:
        lineage = {rec["bucket"]: rec["rows"] for rec in map(json.loads, f)}
    assert sorted(lineage) == list(range(run.n_buckets))
    assert lineage == {b: on_disk.get(b, 0) for b in range(run.n_buckets)}
    assert res["rows"] == sum(on_disk.values()) == 60


def test_process_writes_one_file_per_bucket(spark, tmp_path):
    """Rows are clustered by bucket before the write, so a fresh run
    leaves exactly one data file in each non-empty bucket directory."""
    import os

    run, _ = _fresh_process(spark, tmp_path, "files")
    dirs = [d for d in os.listdir(run.results_dir)
            if d.startswith("bucket=")]
    assert dirs
    for d in dirs:
        data = [f for f in os.listdir(os.path.join(run.results_dir, d))
                if f.endswith(".parquet")]
        assert len(data) == 1, (d, data)


def test_commit_frame_single_bucket_exchange(spark, tmp_path):
    """The frame process() writes has exactly one Exchange — the
    hash clustering on bucket — with the row-count CollectMetrics above
    it, in the write's result stage. The extraction chain below it
    stays shuffle-free."""
    from indonesian_id_ocr_service_spark.corpus.generator import (
        SPAN_SCHEMA_DDL, doc_rows)
    from indonesian_id_ocr_service_spark.pipeline import run_pipeline
    from indonesian_id_ocr_service_spark.plans import audit

    df = spark.createDataFrame(list(doc_rows(10, fractions=(1.0, 0, 0))),
                               SPAN_SCHEMA_DDL)
    run = ExtractionRun(str(tmp_path / "plan"), run_id="plan", n_buckets=8)
    out, _ = run.commit_frame(spark, df, run_pipeline, list(range(8)))
    plan = audit.simple_plan(out)
    assert audit.count_exchanges(out) == 1, plan[:2000]
    assert "Exchange hashpartitioning(bucket#" in plan, plan[:2000]
    assert 0 <= plan.find("CollectMetrics") < plan.find("Exchange"), \
        plan[:2000]
