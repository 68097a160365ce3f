"""End-to-end medallion pipeline test on reference-shaped fixtures:
landing -> bronze -> silver (quarantine + SCD2) -> gold, run twice with a
second-run delta (SURVEY §5 layers 2-4)."""

from __future__ import annotations

import glob
import os
import sys
import threading
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gcp_healthcare_data_pipeline_spark.pipeline.audit import AuditLedger
from gcp_healthcare_data_pipeline_spark.pipeline.runner import Runner, SourcePaths
from tests.fixtures import update_patient_for_run2, write_fixtures

RUN1 = datetime(2024, 6, 1, 5, 0, 0)
RUN2 = datetime(2025, 6, 1, 5, 0, 0)
RUN2_GROUP = "test_pipeline_e2e.run2"


def _job_ids(sc) -> set[int]:
    """Jobs the status tracker knows of, in run 2's group or in none
    (the runner's writer-pool threads carry no job group)."""
    t = sc.statusTracker()
    return set(t.getJobIdsForGroup(None)) | set(
        t.getJobIdsForGroup(RUN2_GROUP)
    )


def _audit_files(wh) -> int:
    audit_log = os.path.join(wh, "control", "audit_log")
    return len(glob.glob(os.path.join(audit_log, "*.parquet")))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """Run the pipeline twice (delta in between); yield paths, the run
    summaries, run 2's Spark job count and audit_log's file counts."""
    root = tmp_path_factory.mktemp("hc")
    src_root, wh = str(root / "sources"), str(root / "warehouse")
    paths = write_fixtures(src_root)
    sources = SourcePaths(**paths)

    r1 = Runner(spark, wh, clock=RUN1)
    summary1 = r1.run(sources)
    audit_files1 = _audit_files(wh)

    update_patient_for_run2(src_root)
    r2 = Runner(spark, wh, clock=RUN2)
    sc = spark.sparkContext
    before = _job_ids(sc)
    sc.setJobGroup(RUN2_GROUP, "pipeline run 2")
    try:
        summary2 = r2.run(sources)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs2 = len(_job_ids(sc) - before)
    return {"wh": wh, "s1": summary1, "s2": summary2, "spark": spark,
            "jobs2": jobs2,
            "audit_files": (audit_files1, _audit_files(wh) - audit_files1)}


def _silver(warehouse, name):
    return warehouse["spark"].read.parquet(f"{warehouse['wh']}/silver/{name}")


def test_gold_marts_materialize(warehouse):
    assert warehouse["s1"]["provider_charge_summary"] > 0
    assert warehouse["s1"]["patient_history"] > 0
    assert warehouse["s1"]["provider_performance"] > 0
    assert warehouse["s1"]["department_performance"] > 0


def test_quarantine_rules(warehouse):
    pat = _silver(warehouse, "patients")
    # 'null' FirstName sentinel and NULL PatientID both quarantined
    q = pat.filter(F.col("is_quarantined")).select("FirstName", "SRC_PatientID")
    rows = {(r.FirstName, r.SRC_PatientID) for r in q.collect()}
    assert ("null", "P003") in rows
    assert any(pid is None for _, pid in rows)
    # hospital-B rows conformed through renamed columns
    assert pat.filter(
        (F.col("datasource") == "hospital_b_db") & (F.col("FirstName") == "Hans")
    ).count() == 1


def test_shared_business_key_disambiguated_by_datasource(warehouse):
    dept = _silver(warehouse, "departments")
    keys = {r.Dept_Id for r in dept.select("Dept_Id").collect()}
    assert "DEPT001-hospital_a_db" in keys and "DEPT001-hospital_b_db" in keys


def test_safe_cast_bad_numerics(warehouse):
    prov = _silver(warehouse, "providers")
    npi = {r.ProviderID: r.NPI for r in prov.collect()}
    assert npi["PROV001"] == 1234567890
    assert npi["PROV003"] is None  # 'notanumber'
    trx = _silver(warehouse, "transactions")
    amounts = {r.SRC_TransactionID: r.Amount for r in trx.filter(F.col("is_current")).collect()}
    assert amounts["TRX003"] is None  # 'badnum'
    assert amounts["TRX001"] == 100.50


def test_distinct_collapses_exact_dupes(warehouse):
    pat = _silver(warehouse, "patients")
    assert (
        pat.filter(
            (F.col("SRC_PatientID") == "P001")
            & (F.col("datasource") == "hospital_a_db")
        ).count()
        == 1
    )


def test_scd2_second_run_delta(warehouse):
    pat = _silver(warehouse, "patients")
    p002 = pat.filter(F.col("SRC_PatientID") == "P002").orderBy("modified_date")
    rows = p002.collect()
    # strict reference semantics: changed row expired, no re-insert (§2.6)
    assert [(r.Address, r.is_current, str(r.modified_date.date())) for r in rows] == [
        ("2 Oak Ave", False, "2025-06-01"),
    ]
    # untouched patient remains current from run 1
    p001 = pat.filter(
        (F.col("SRC_PatientID") == "P001") & (F.col("datasource") == "hospital_a_db")
    ).first()
    assert p001.is_current and str(p001.inserted_date.date()) == "2024-06-01"


def test_incremental_watermark_skips_old_rows(warehouse):
    audit = warehouse["spark"].read.parquet(
        f"{warehouse['wh']}/control/audit_log"
    )
    r2 = audit.filter(
        (F.col("tablename") == "encounters")
        & (F.col("data_source") == "hospital_a_db")
        & (F.col("load_timestamp") == RUN2)
    ).first()
    # no encounter rows newer than run-1 watermark -> empty delta landed
    assert r2.status == "success" and r2.record_count == 0
    r2p = audit.filter(
        (F.col("tablename") == "patients")
        & (F.col("data_source") == "hospital_a_db")
        & (F.col("load_timestamp") == RUN2)
    ).first()
    assert r2p.record_count == 1  # only the P002 delta row


def test_gold_charge_summary_values(warehouse):
    mart = warehouse["spark"].read.parquet(
        f"{warehouse['wh']}/gold/provider_charge_summary"
    )
    vals = {
        (r.Provider_Name, r.Dept_Name): r.Amount
        for r in mart.collect()
    }
    # TRX002 (200.25, PROV002/DEPT001-Emergency appears for A and B dept rows)
    # TRX003 amount is NULL (badnum) -> COALESCE 0
    assert vals[("Bob Brown", "Emergency")] == pytest.approx(400.50)
    # TRX001: Alice Adams in Cardiology (DEPT002 exists only in hospital A)
    assert vals[("Alice Adams", "Cardiology")] == pytest.approx(100.50)


def test_extension_marts(warehouse):
    """The reference's placeholder marts (gold.sql:165-169), completed."""
    fm = warehouse["spark"].read.parquet(
        f"{warehouse['wh']}/gold/financial_metrics"
    )
    rows = {(r.Line_Of_Business, r.Payor): r for r in fm.collect()}
    # TRX001: commercial/Medicare, 100.50 charged, 80 paid
    r = rows[("Commercial", "Medicare")]
    assert r.Total_Charges == pytest.approx(100.50)
    assert r.Total_Payments == pytest.approx(80.0)
    assert r.Outstanding_Balance == pytest.approx(20.50)

    pp = warehouse["spark"].read.parquet(
        f"{warehouse['wh']}/gold/payor_performance"
    )
    by_payor = {r.Payor: r for r in pp.collect()}
    # CLM001 approved (CLM003 is quarantined via 'null' status)
    assert by_payor["Medicare"].Approval_Rate_Pct == 100.0
    assert by_payor["Medicare"].Avg_Claim_Lag_Days == pytest.approx(3.0)
    assert by_payor["BlueCross"].Approved_Claims == 0


def test_provider_performance_approval_rate(warehouse):
    mart = warehouse["spark"].read.parquet(
        f"{warehouse['wh']}/gold/provider_performance"
    )
    rows = {(r.FirstName, r.LastName): r for r in mart.collect()}
    # PROV001: CLM001 approved of 1 claim -> 100.0
    assert rows[("Alice", "Adams")].ClaimApprovalRate == 100.0
    # PROV002: CLM002 pending + CLM003 'null' -> 0.0 approval
    assert rows[("Bob", "Brown")].ClaimApprovalRate == 0.0


def _rows_in_append_order(path: str) -> list[dict]:
    """A control table's rows in the order they were appended: one file
    per flush, files in write order, rows in file order."""
    files = sorted(
        glob.glob(os.path.join(path, "*.parquet")),
        key=lambda f: (os.stat(f).st_mtime_ns, f),
    )
    return [r for f in files for r in pq.read_table(f).to_pylist()]


_MART_ROWS_RUN1 = {
    "provider_charge_summary": 3, "patient_history": 12,
    "provider_performance": 4, "department_performance": 5,
    "financial_metrics": 3, "payor_performance": 3,
}
_MART_ROWS_RUN2 = dict(_MART_ROWS_RUN1, patient_history=11)
_EMR = ("patients", "encounters", "transactions", "providers", "departments")
# (data_source, tablename, load_type, record_count) per run, config order
_LANDED = {
    RUN1: [("hospital_a_db", t, lt, n) for t, lt, n in zip(
        _EMR, ("Incremental",) * 3 + ("Full",) * 2, (5, 3, 3, 3, 4))]
    + [("hospital_b_db", t, lt, n) for t, lt, n in zip(
        _EMR, ("Incremental",) * 3 + ("Full",) * 2, (2, 1, 1, 1, 2))],
    # watermarked tables land only their delta: P002's update, else an
    # empty delta, recorded as 0 rows
    RUN2: [("hospital_a_db", t, lt, n) for t, lt, n in zip(
        _EMR, ("Incremental",) * 3 + ("Full",) * 2, (1, 0, 0, 3, 4))]
    + [("hospital_b_db", t, lt, n) for t, lt, n in zip(
        _EMR, ("Incremental",) * 3 + ("Full",) * 2, (0, 0, 0, 1, 2))],
}


def test_control_tables_hold_the_same_rows_in_the_same_order(warehouse):
    """audit_log and pipeline_logs after both runs, apart from wall-clock
    timestamps: one audit row per landed table and one log row per event,
    appended in config order even though the tables land concurrently."""
    control = os.path.join(warehouse["wh"], "control")
    audit = [
        (r["data_source"], r["tablename"], r["load_type"],
         r["record_count"], r["status"])
        for r in _rows_in_append_order(os.path.join(control, "audit_log"))
    ]
    assert audit == [
        (*row, "success") for clock in (RUN1, RUN2) for row in _LANDED[clock]
    ]
    logs = [
        (r["event_type"], r["message"], r["step"], r["tablename"],
         r["error_trace"])
        for r in _rows_in_append_order(os.path.join(control, "pipeline_logs"))
    ]
    expected = []
    for clock, marts in ((RUN1, _MART_ROWS_RUN1), (RUN2, _MART_ROWS_RUN2)):
        expected.append(("INFO", "pipeline start", "run", "", None))
        expected += [
            ("INFO", f"landed {n} rows", "landing", table, None)
            for _, table, _, n in _LANDED[clock]
        ]
        expected.append(("INFO", f"pipeline done: {marts}", "run", "", None))
    assert logs == expected


def test_audit_log_gains_one_file_per_flush_point(warehouse):
    """Watermark lookups read the ledger once per run and flush nothing,
    so each run appends audit rows only at the landing stage's flush and
    the end-of-run flush (the latter has no audit rows to write)."""
    run1, run2 = warehouse["audit_files"]
    assert run1 <= 2 and run2 <= 2


def test_run_returns_written_mart_counts(warehouse):
    """run()'s counts come from the writes themselves; they must match
    the marts on disk."""
    assert warehouse["s1"] == _MART_ROWS_RUN1
    assert warehouse["s2"] == _MART_ROWS_RUN2
    spark = warehouse["spark"]
    for mart, n in warehouse["s2"].items():
        assert spark.read.parquet(
            os.path.join(warehouse["wh"], "gold", mart)
        ).count() == n


def test_run2_job_budget(warehouse):
    """The nightly incremental run spends its Spark jobs on data work:
    174 jobs before its bookkeeping (counts, schema inference, watermark
    reads) was folded into the writes, 93 after."""
    assert warehouse["jobs2"] <= 100


def test_concurrent_first_lookups_read_the_ledger_once(tmp_path, monkeypatch):
    """Landing threads look their watermarks up at once: exactly one of
    them loads the map (folding in rows recorded but not yet flushed),
    and later successes move it without another load. The ledger has no
    flushed rows, so no Spark session is needed."""
    ledger = AuditLedger(None, str(tmp_path))
    when = datetime(2025, 1, 1)
    ledger.record("ds", "t", "Incremental", 1, "success", when)
    ledger.record("ds", "t", "Incremental", 0, "failed",
                  when + timedelta(days=1))
    loads = []
    exists = ledger._exists
    monkeypatch.setattr(ledger, "_exists", lambda: loads.append(1) or exists())
    barrier = threading.Barrier(12)
    seen = []

    def look():
        barrier.wait(timeout=30)
        seen.append(ledger.last_watermark("ds", "t"))

    threads = [threading.Thread(target=look) for _ in range(12)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(loads) == 1
    assert seen == [when] * 12
    later = when + timedelta(days=2)
    ledger.record("ds", "t", "Incremental", 1, "success", later)
    assert ledger.last_watermark("ds", "t") == later
    assert ledger.last_watermark("ds", "other") is None
    assert len(loads) == 1
