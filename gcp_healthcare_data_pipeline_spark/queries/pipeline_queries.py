"""End-to-end healthcare-pipeline correctness gate (SURVEY §5 layer 3).

Spark side: run the FULL medallion pipeline (landing -> bronze -> silver
conformance+SCD2 -> gold) twice over the reference-shaped fixtures — run 1
initial load at a frozen clock, run 2 with the P002 SCD2 delta — then
return each gold mart (pipeline/runner.py). The two-run warehouse is
built once per process and cached; each q_pipeline_* query just reads its
mart.

Oracle side: a self-contained DuckDB re-derivation of the reference's
silver.sql + gold.sql over the SAME fixture rows, inlined as VALUES
(pipeline/fixtures.py is the single source of truth for both sides):

- conformance: per-source renames, raw-value quarantine CASEs, TRY_CAST
  (SAFE_CAST), NULL-propagating key concat, UNION + DISTINCT
  (silver.sql:16-30, 48-65, 90-139, 238-266, ...)
- SCD2: the strict reference MERGE (silver.sql:142-199 et al.) applied
  across the two runs — expire matched rows whose full-column comparator
  ORs to literal TRUE, insert only NOT-MATCHED keys (half-SCD2: no
  re-insert of the changed row's new version) — with the incremental
  watermark (MAX successful load_timestamp = run-1 clock) filtering the
  run-2 source for watermarked tables
- gold: the four reference marts verbatim (gold.sql:13-25, 55-82,
  105-128, 147-162) plus the two completed placeholder marts
  (gold.sql:165-169)

Money aggregates are ROUND(...,2) on BOTH sides (cross-engine float-sum
determinism); the reference leaves them raw FLOAT64.

The oracle's silver CTEs for entities whose two source loads are
identical (encounters/transactions: empty incremental delta; claims/cpt:
full reload of unchanged data) reduce to the run-1 initial state — the
generic delta/changed CTEs are still emitted so the SQL stays faithful
to the merge, not to this particular fixture set.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from gcp_healthcare_data_pipeline_spark.pipeline import fixtures as FX
from gcp_healthcare_data_pipeline_spark.plans.conform import ENTITIES, EntitySpec
from gcp_healthcare_data_pipeline_spark.queries.registry import (
    QuerySpec,
    exit_tempdir,
)

RUN1 = datetime(2024, 6, 1, 5, 0, 0)
RUN2 = datetime(2025, 6, 1, 5, 0, 0)
_TS1 = "TIMESTAMP '2024-06-01 05:00:00'"
_TS2 = "TIMESTAMP '2025-06-01 05:00:00'"

_MARTS = (
    "provider_charge_summary",
    "patient_history",
    "provider_performance",
    "department_performance",
    "financial_metrics",
    "payor_performance",
)

# ---------------------------------------------------------------------------
# Spark side: cached two-run pipeline warehouse
# ---------------------------------------------------------------------------

# keyed on applicationId, not id(spark): CPython can reuse an object id
# after a stopped session is garbage-collected, which would hand back a
# warehouse bound to the dead session
_CACHE: dict[str, str] = {}


def _warehouse(spark: SparkSession) -> str:
    key = spark.sparkContext.applicationId
    wh = _CACHE.get(key)
    if wh and os.path.isdir(os.path.join(wh, "gold")):
        return wh
    from gcp_healthcare_data_pipeline_spark.pipeline.runner import (  # noqa: PLC0415
        Runner,
        SourcePaths,
    )

    root = exit_tempdir("pipeline_gate_")
    src, wh = os.path.join(root, "src"), os.path.join(root, "wh")
    sources = SourcePaths(**FX.write_fixtures(src))
    # small fixed-size fixtures: drop shuffle width while the pipeline runs
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        Runner(spark, wh, clock=RUN1).run(sources)
        FX.update_patient_for_run2(src)
        Runner(spark, wh, clock=RUN2).run(sources)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    _CACHE[key] = wh
    return wh


def _mart_query(name: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(os.path.join(_warehouse(spark), "gold", name))

    fn.__name__ = f"q_pipeline_{name}"
    return fn


# ---------------------------------------------------------------------------
# Oracle side: DuckDB re-derivation of silver.sql + gold.sql
# ---------------------------------------------------------------------------

_SQL_TYPES = {"timestamp": "TIMESTAMP", "bigint": "BIGINT", "double": "DOUBLE"}


def _branch_sql(spec: EntitySpec, ds: str, values_rel: str) -> str:
    """One conformed source branch (rename + cast + key + raw-value
    quarantine), mirroring silver.sql's quality_checks SELECT."""
    mapping = spec.rename[ds]
    id_target = next(iter(mapping))
    id_src = mapping[id_target]
    cols = []
    for tgt, src in mapping.items():
        expr = f'"{src}"'
        if tgt in spec.casts:
            expr = f'TRY_CAST("{src}" AS {_SQL_TYPES[spec.casts[tgt]]})'
        cols.append(f'{expr} AS "{tgt}"')
    cols.append(f"'{ds}' AS \"datasource\"")
    cols.append(f'("{id_src}" || \'-{ds}\') AS "{spec.key_col}"')
    terms = [f'"{mapping[c]}" IS NULL' for c in spec.null_cols]
    terms += [
        f'LOWER("{mapping[c]}") = \'null\'' for c in spec.sentinel_cols
    ]
    cols.append(
        "(CASE WHEN "
        + " OR ".join(terms)
        + ' THEN TRUE ELSE FALSE END) AS "is_quarantined"'
    )
    return f"SELECT {', '.join(cols)} FROM {values_rel}"


def _stage_sql(spec: EntitySpec, branches: list[tuple[str, str]]) -> str:
    inner = "\n    UNION ALL\n    ".join(
        _branch_sql(spec, ds, rel) for ds, rel in branches
    )
    return f"SELECT DISTINCT * FROM (\n    {inner}\n    )"


def _scd2_ctes(name: str, spec: EntitySpec, source2_cte: str) -> str:
    """changed_<name> + silver_<name> CTE bodies implementing the strict
    reference MERGE across the two frozen-clock runs."""
    key = spec.key_col
    diff = " OR ".join(f't."{c}" <> s."{c}"' for c in spec.tracked)
    changed = (
        f'changed_{name} AS (\n'
        f'  SELECT t."{key}" AS k FROM stage_{name}_r1 t\n'
        f'  JOIN {source2_cte} s ON t."{key}" = s."{key}"\n'
        f"  WHERE {diff}\n)"
    )
    silver = (
        f"silver_{name} AS (\n"
        f"  SELECT t.*, {_TS1} AS inserted_date,\n"
        f"         CASE WHEN c.k IS NOT NULL THEN {_TS2} ELSE {_TS1} END"
        f" AS modified_date,\n"
        f"         (c.k IS NULL) AS is_current\n"
        f'  FROM stage_{name}_r1 t LEFT JOIN changed_{name} c ON t."{key}" = c.k\n'
        f"  UNION ALL\n"
        f"  SELECT s.*, {_TS2} AS inserted_date, {_TS2} AS modified_date,"
        f" TRUE AS is_current\n"
        f"  FROM {source2_cte} s\n"
        f'  WHERE s."{key}" IS NULL OR s."{key}" NOT IN\n'
        f'    (SELECT "{key}" FROM stage_{name}_r1 WHERE "{key}" IS NOT NULL)\n'
        f")"
    )
    return changed + ",\n" + silver


def _silver_prefix() -> str:
    """The WITH body shared by every pipeline oracle: conformed stages for
    both runs, watermark deltas, SCD2 merges, and snapshot silvers."""
    v = FX.values_sql
    ctes: list[str] = []

    # EMR SCD2 entities with incremental watermark: patients (real delta),
    # encounters + transactions (empty delta - nothing newer than run 1)
    emr_tables = {
        "patients": (FX.PATIENTS_A, FX.patients_a_run2(), FX.PATIENTS_B),
        "encounters": (FX.ENCOUNTERS_A, FX.ENCOUNTERS_A, FX.ENCOUNTERS_B),
        "transactions": (FX.TRANSACTIONS_A, FX.TRANSACTIONS_A,
                         FX.TRANSACTIONS_B),
    }
    for name, (a_r1, a_r2, b) in emr_tables.items():
        spec = ENTITIES[name]
        ctes.append(
            f"stage_{name}_r1 AS ({_stage_sql(spec, [('hospital_a_db', v(*a_r1)), ('hospital_b_db', v(*b))])})"
        )
        ctes.append(
            f"stage_{name}_r2 AS ({_stage_sql(spec, [('hospital_a_db', v(*a_r2)), ('hospital_b_db', v(*b))])})"
        )
        # incremental watermark: rows newer than the run-1 load clock
        ctes.append(
            f'delta_{name} AS (SELECT * FROM stage_{name}_r2'
            f' WHERE "SRC_ModifiedDate" > {_TS1})'
        )
        ctes.append(_scd2_ctes(name, spec, f"delta_{name}"))

    # claims: full reload each run (glob scan, no watermark)
    spec = ENTITIES["claims"]
    claims_branches = [
        ("hospital1", v(*FX.CLAIMS_H1)),
        ("hospital2", v(*FX.CLAIMS_H2)),
    ]
    ctes.append(f"stage_claims_r1 AS ({_stage_sql(spec, claims_branches)})")
    ctes.append(_scd2_ctes("claims", spec, "stage_claims_r1"))

    # cpt codes: full reload each run, normalized headers
    spec = ENTITIES["cpt_codes"]
    cpt_header = [c.replace(" ", "_").lower() for c in FX.CPTCODES[0]]
    cpt_rel = v(cpt_header, FX.CPTCODES[1])
    ctes.append(
        f"stage_cpt_codes_r1 AS ({_stage_sql(spec, [('cptcodes', cpt_rel)])})"
    )
    ctes.append(_scd2_ctes("cpt_codes", spec, "stage_cpt_codes_r1"))

    # snapshot (truncate-and-reload) entities
    for name, a_rel, b_rel in (
        ("providers", v(*FX.PROVIDERS_A), v(*FX.PROVIDERS_B)),
        ("departments", v(*FX.DEPARTMENTS_A), v(*FX.DEPARTMENTS_B)),
    ):
        spec = ENTITIES[name]
        ctes.append(
            f"silver_{name} AS ({_stage_sql(spec, [('hospital_a_db', a_rel), ('hospital_b_db', b_rel)])})"
        )

    return ",\n".join(ctes)


def _oracle(mart_select: str) -> str:
    return f"WITH\n{_silver_prefix()}\n{mart_select}"


# gold.sql:13-25
_SEL_CHARGE_SUMMARY = """
SELECT CONCAT(COALESCE(p.FirstName, ''), ' ', COALESCE(p.LastName, ''))
         AS Provider_Name,
       d.Name AS Dept_Name,
       ROUND(SUM(COALESCE(t.Amount, 0.0)), 2) AS Amount
FROM silver_transactions t
LEFT JOIN silver_providers p ON p.ProviderID = t.ProviderID
LEFT JOIN silver_departments d ON string_split(d.Dept_Id, '-')[1] = p.DeptID
WHERE t.is_quarantined = FALSE AND d.Name IS NOT NULL
GROUP BY 1, 2
"""

# gold.sql:55-82
_SEL_PATIENT_HISTORY = """
SELECT p.Patient_Key, p.SRC_PatientID, p.FirstName, p.LastName, p.Gender,
       p.DOB, p.Address, e.EncounterDate, e.EncounterType,
       t.Transaction_Key, t.VisitDate, t.ServiceDate,
       COALESCE(t.Amount, 0.0) AS BilledAmount,
       COALESCE(t.PaidAmount, 0.0) AS PaidAmount,
       c.ClaimStatus,
       COALESCE(c.ClaimAmount, 0.0) AS ClaimAmount,
       COALESCE(c.PaidAmount, 0.0) AS ClaimPaidAmount,
       c.PayorType
FROM silver_patients p
LEFT JOIN silver_encounters e ON p.SRC_PatientID = e.PatientID
LEFT JOIN silver_transactions t ON p.SRC_PatientID = t.PatientID
LEFT JOIN silver_claims c ON t.SRC_TransactionID = c.TransactionID
WHERE p.is_current = TRUE
"""

# gold.sql:105-128
_SEL_PROVIDER_PERFORMANCE = """
SELECT pr.ProviderID, pr.FirstName, pr.LastName, pr.Specialization,
  COUNT(DISTINCT e.Encounter_Key) AS TotalEncounters,
  COUNT(DISTINCT t.Transaction_Key) AS TotalTransactions,
  ROUND(SUM(COALESCE(t.Amount, 0.0)), 2) AS TotalBilledAmount,
  ROUND(SUM(COALESCE(t.PaidAmount, 0.0)), 2) AS TotalPaidAmount,
  COUNT(DISTINCT CASE WHEN c.ClaimStatus = 'Approved' THEN c.Claim_Key END)
    AS ApprovedClaims,
  COUNT(DISTINCT c.Claim_Key) AS TotalClaims,
  ROUND(COUNT(DISTINCT CASE WHEN c.ClaimStatus = 'Approved'
                            THEN c.Claim_Key END) * 100.0
        / NULLIF(COUNT(DISTINCT c.Claim_Key), 0), 2) AS ClaimApprovalRate
FROM silver_providers pr
LEFT JOIN silver_encounters e ON pr.ProviderID = e.ProviderID
LEFT JOIN silver_transactions t ON pr.ProviderID = t.ProviderID
LEFT JOIN silver_claims c ON t.SRC_TransactionID = c.TransactionID
GROUP BY 1, 2, 3, 4
"""

# gold.sql:147-162
_SEL_DEPARTMENT_PERFORMANCE = """
SELECT d.Dept_Id, d.Name AS DepartmentName,
  COUNT(DISTINCT e.Encounter_Key) AS TotalEncounters,
  COUNT(DISTINCT t.Transaction_Key) AS TotalTransactions,
  ROUND(SUM(COALESCE(t.Amount, 0.0)), 2) AS TotalBilledAmount,
  ROUND(SUM(COALESCE(t.PaidAmount, 0.0)), 2) AS TotalPaidAmount,
  ROUND(AVG(COALESCE(t.PaidAmount, 0.0)), 2) AS AvgPaymentPerTransaction
FROM silver_departments d
LEFT JOIN silver_encounters e ON string_split(d.Dept_Id, '-')[1] = e.DepartmentID
LEFT JOIN silver_transactions t ON string_split(d.Dept_Id, '-')[1] = t.DeptID
WHERE d.is_quarantined = FALSE
GROUP BY 1, 2
"""

# completed placeholder mart (gold.sql:165-167), plans/gold.py semantics
_SEL_FINANCIAL_METRICS = """
SELECT LineOfBusiness AS Line_Of_Business, PayorID AS Payor,
  COUNT(*) AS Num_Transactions,
  ROUND(SUM(COALESCE(Amount, 0.0)), 2) AS Total_Charges,
  ROUND(SUM(COALESCE(PaidAmount, 0.0)), 2) AS Total_Payments,
  ROUND(SUM(COALESCE(Amount, 0.0)) - SUM(COALESCE(PaidAmount, 0.0)), 2)
    AS Outstanding_Balance,
  ROUND(SUM(COALESCE(PaidAmount, 0.0)) * 100.0
        / NULLIF(SUM(COALESCE(Amount, 0.0)), 0.0), 2) AS Collection_Rate_Pct
FROM silver_transactions
WHERE is_quarantined = FALSE
GROUP BY 1, 2
"""

# completed placeholder mart (gold.sql:168-169), plans/gold.py semantics
_SEL_PAYOR_PERFORMANCE = """
SELECT PayorID AS Payor, PayorType,
  COUNT(*) AS Num_Claims,
  COUNT(CASE WHEN ClaimStatus = 'Approved' THEN 1 END) AS Approved_Claims,
  ROUND(COUNT(CASE WHEN ClaimStatus = 'Approved' THEN 1 END) * 100.0
        / NULLIF(COUNT(*), 0), 2) AS Approval_Rate_Pct,
  ROUND(SUM(COALESCE(ClaimAmount, 0.0)), 2) AS Total_Claim_Amount,
  ROUND(SUM(COALESCE(PaidAmount, 0.0)), 2) AS Total_Paid_Amount,
  ROUND(AVG((epoch(ClaimDate) - epoch(ServiceDate)) / 86400.0), 2)
    AS Avg_Claim_Lag_Days
FROM silver_claims
WHERE is_quarantined = FALSE
GROUP BY 1, 2
"""

_SELECTS = {
    "provider_charge_summary": _SEL_CHARGE_SUMMARY,
    "patient_history": _SEL_PATIENT_HISTORY,
    "provider_performance": _SEL_PROVIDER_PERFORMANCE,
    "department_performance": _SEL_DEPARTMENT_PERFORMANCE,
    "financial_metrics": _SEL_FINANCIAL_METRICS,
    "payor_performance": _SEL_PAYOR_PERFORMANCE,
}

QUERIES = [
    QuerySpec(
        f"q_pipeline_{name}",
        _mart_query(name),
        _oracle(_SELECTS[name]),
        "pipeline gate: S2-S10,P1-P9,J1-J6,A1-A8,F1-F13,§2.6,U1,C1-C7",
    )
    for name in _MARTS
]


# ---------------------------------------------------------------------------
# sf-scaling silver->gold chain (q_pipeline_sf): the fixture gates above
# prove reference semantics at reference data volume (~71k rows); this
# query proves the SAME code path (plans/conform.py conformance +
# quarantine + union-distinct, operators/scd2.py initial load,
# plans/gold.py broadcast-dim mart) SCALES — its input is derived
# deterministically from the TPC-H tables, so bench measures it at
# sf0.1 (600k fact rows) as a regular non-exempt entry and the driver
# oracle-gates it at sf0.01. q_scd2_sf (below) covers the OTHER half of
# the silver layer at scale — the second-batch MERGE path.
# ---------------------------------------------------------------------------

_SF_TS = "2025-01-01 00:00:00"


def q_pipeline_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver->gold chain at scale factor: lineitem becomes a two-
    hospital transactions feed (600k rows at sf0.1; NULL EncounterID and
    'notanumber' Amount injections exercise the quarantine and
    SAFE_CAST paths), supplier/nation become the provider/department
    dims, and the REAL pipeline functions run end to end — conform_source
    per branch, conform_union (+DISTINCT), scd2_initial at a frozen
    clock, then the provider_charge_summary gold mart (reference
    gold.sql:13-25 semantics: broadcast dims, computed SPLIT dept key,
    null-rejecting dept filter, SUM(COALESCE) money).

    Fully lazy one-DataFrame plan: conformance is row-local projection,
    the only wide stages are the union DISTINCT and the final groupBy —
    the shape that holds at 100 TB (dims stay broadcast; the fact table
    shuffles once for dedup, once for the aggregate).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.scd2 import (  # noqa: PLC0415
        scd2_initial,
    )
    from gcp_healthcare_data_pipeline_spark.plans.conform import (  # noqa: PLC0415
        DEPARTMENTS,
        PROVIDERS,
        TRANSACTIONS,
        conform_source,
        conform_union,
    )
    from gcp_healthcare_data_pipeline_spark.plans.gold import (  # noqa: PLC0415
        provider_charge_summary,
    )
    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        load_tables,
    )

    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")

    tid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    vd = F.date_format("l_shipdate", "yyyy-MM-dd")
    cents = (
        F.col("l_orderkey") * 37 + F.col("l_linenumber") * 13
        + F.col("l_partkey")
    ) % 100000
    raw_tx = t["lineitem"].select(
        tid.alias("TransactionID"),
        F.when(F.col("l_orderkey") % 50 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("E"), tid))
        .alias("EncounterID"),
        F.concat(
            F.lit("P"), (F.col("l_orderkey") % 1000).cast("string")
        ).alias("PatientID"),
        F.concat(
            F.lit("PR"), (F.col("l_suppkey") % 100 + 1).cast("string")
        ).alias("ProviderID"),
        F.concat(
            F.lit("D"), (F.col("l_partkey") % 25).cast("string")
        ).alias("DeptID"),
        vd.alias("VisitDate"),
        vd.alias("ServiceDate"),
        vd.alias("PaidDate"),
        F.col("l_linestatus").alias("VisitType"),
        F.when(F.col("l_orderkey") % 97 == 0, F.lit("notanumber"))
        .otherwise(cents.cast("string"))
        .alias("Amount"),
        F.col("l_returnflag").alias("AmountType"),
        ((cents * 3) % 100000).cast("string").alias("PaidAmount"),
        F.concat(F.lit("C"), tid).alias("ClaimID"),
        F.concat(
            F.lit("PY"), (F.col("l_partkey") % 10).cast("string")
        ).alias("PayorID"),
        (F.col("l_partkey") % 500).cast("string").alias("ProcedureCode"),
        F.concat(
            F.lit("ICD"), (F.col("l_partkey") % 30).cast("string")
        ).alias("ICDCode"),
        F.col("l_returnflag").alias("LineOfBusiness"),
        F.concat(
            F.lit("MA"), (F.col("l_orderkey") % 7).cast("string")
        ).alias("MedicaidID"),
        F.concat(
            F.lit("MC"), (F.col("l_orderkey") % 11).cast("string")
        ).alias("MedicareID"),
        vd.alias("InsertDate"),
        vd.alias("ModifiedDate"),
        (F.col("l_orderkey") % 2).alias("_branch"),
    )
    branches = [
        conform_source(
            raw_tx.filter(F.col("_branch") == 0), TRANSACTIONS,
            "hospital_a_db",
        ),
        conform_source(
            raw_tx.filter(F.col("_branch") == 1), TRANSACTIONS,
            "hospital_b_db",
        ),
    ]
    silver_tx = scd2_initial(
        conform_union(branches), F.lit(_SF_TS).cast("timestamp")
    )

    raw_prov = t["supplier"].filter(F.col("s_suppkey") < 100).select(
        F.concat(
            F.lit("PR"), (F.col("s_suppkey") + 1).cast("string")
        ).alias("ProviderID"),
        F.lit("Dr").alias("FirstName"),
        F.col("s_name").alias("LastName"),
        F.concat(
            F.lit("S"), (F.col("s_nationkey") % 5).cast("string")
        ).alias("Specialization"),
        F.concat(
            F.lit("D"), (F.col("s_suppkey") % 25).cast("string")
        ).alias("DeptID"),
        (F.col("s_suppkey") + 1000000).cast("string").alias("NPI"),
    )
    silver_prov = conform_union(
        [conform_source(raw_prov, PROVIDERS, "hospital_a_db")]
    )

    raw_dept = t["nation"].select(
        F.concat(
            F.lit("D"), F.col("n_nationkey").cast("string")
        ).alias("DeptID"),
        F.when(F.col("n_nationkey") == 7, F.lit(None).cast("string"))
        .otherwise(F.col("n_name"))
        .alias("Name"),
    )
    silver_dept = conform_union(
        [conform_source(raw_dept, DEPARTMENTS, "hospital_a_db")]
    )

    return provider_charge_summary(silver_tx, silver_prov, silver_dept)


_ORACLE_PIPELINE_SF = f"""
WITH tx_raw AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS tid,
         l_orderkey, l_partkey, l_suppkey,
         strftime(l_shipdate, '%Y-%m-%d') AS vd,
         (l_orderkey * 37 + l_linenumber * 13 + l_partkey) % 100000 AS cents
  FROM lineitem
), tx_conf AS (
  SELECT
    tid AS SRC_TransactionID,
    CASE WHEN l_orderkey % 50 = 0 THEN NULL ELSE 'E' || tid END
      AS EncounterID,
    'P' || CAST(l_orderkey % 1000 AS VARCHAR) AS PatientID,
    'PR' || CAST(l_suppkey % 100 + 1 AS VARCHAR) AS ProviderID,
    TRY_CAST(CASE WHEN l_orderkey % 97 = 0 THEN 'notanumber'
                  ELSE CAST(cents AS VARCHAR) END AS DOUBLE) AS Amount,
    -- raw-value quarantine CASE (silver.sql:263-266 column set)
    ((CASE WHEN l_orderkey % 50 = 0 THEN NULL ELSE 'E' || tid END) IS NULL
     OR ('P' || CAST(l_orderkey % 1000 AS VARCHAR)) IS NULL
     OR tid IS NULL OR vd IS NULL) AS is_quarantined
  FROM tx_raw
), prov AS (
  SELECT 'PR' || CAST(s_suppkey + 1 AS VARCHAR) AS ProviderID,
         'Dr ' || s_name AS Provider_Name,
         'D' || CAST(s_suppkey % 25 AS VARCHAR) AS DeptID
  FROM supplier WHERE s_suppkey < 100
), dept AS (
  SELECT 'D' || CAST(n_nationkey AS VARCHAR) AS dept_key,
         CASE WHEN n_nationkey = 7 THEN NULL ELSE n_name END AS Dept_Name
  FROM nation
)
SELECT p.Provider_Name, d.Dept_Name,
       ROUND(SUM(COALESCE(t.Amount, 0.0)), 2) AS Amount
FROM tx_conf t
LEFT JOIN prov p USING (ProviderID)
LEFT JOIN dept d ON d.dept_key = p.DeptID
WHERE t.is_quarantined = FALSE AND d.Dept_Name IS NOT NULL
GROUP BY 1, 2
"""

QUERIES.append(
    QuerySpec(
        "q_pipeline_sf",
        q_pipeline_sf,
        _ORACLE_PIPELINE_SF,
        "sf-scaling chain: P1,P3,P6,F2,F4,F7,J1,J2,A1,U1,§2.6 at sf",
    )
)


# ---------------------------------------------------------------------------
# SCD2 MERGE at scale factor (q_scd2_sf): q_pipeline_sf proves the
# initial-load half of the silver layer scales; this query proves the
# MERGE half (operators/scd2.py:68, reference silver.sql:142-199) does.
# Batch 1 = every lineitem row as a current version at a frozen TS1;
# batch 2 mutates it four ways — changed tracked values (expire),
# NULL-injected tracked values (the NULL-unsafe `<>` quirk: a NULL term
# keeps the OR unknown, so the row must NOT expire unless another term
# is literally TRUE), absent keys (stay current — BigQuery MERGE has no
# NOT-MATCHED-BY-SOURCE clause), and brand-new keys (insert). A gold
# mart (broadcast dept dim + groupBy) over the merged state gives the
# oracle a precise (is_current, modified_date, dept) classification
# signature: unchanged-current / expired / inserted land in disjoint
# groups, so any merge misclassification flips a hash.
#
# 100 TB shape: the merge is ONE full-outer shuffle on the business key
# (both 600k-row sides at sf0.1), the mart is one groupBy shuffle with
# a 25-row broadcast dim; amounts aggregate as exact BIGINT cents so
# the oracle hash is float-order-independent at any sf.
# ---------------------------------------------------------------------------

_SCD2_SF_TS1 = "2025-01-01 00:00:00"
_SCD2_SF_TS2 = "2025-02-01 00:00:00"


def scd2_sf_batches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(initial SCD2 target, second-batch source) at scale factor.

    Shared by q_scd2_sf (in-memory merge) and the bucketed-layout path
    (pipeline/bucketing.py writes both sides bucketed on txn_id so the
    merge's full-outer join runs exchange-free)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.scd2 import (  # noqa: PLC0415
        scd2_initial,
    )
    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        load_tables,
    )

    lineitem = load_tables(spark, sf_dir, "lineitem")
    tid = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("bigint")
    cents = (
        F.col("l_orderkey") * 37 + F.col("l_linenumber") * 13
        + F.col("l_partkey")
    ) % 100000
    # the synthetic lineitem repeats (orderkey, linenumber) pairs, so the
    # entity derivation AGGREGATES to the business key — the dedupe-
    # before-SCD2 step every real silver layer runs (a MERGE with
    # multi-row keys is an error in BigQuery, silver.sql:142-145 relies
    # on source uniqueness). All aggregates are deterministic (SUM of
    # exact ints, MIN/MAX) so both engines derive identical batches.
    base = (
        lineitem.select(
            tid.alias("txn_id"),
            cents.cast("bigint").alias("cents"),
            F.col("l_linestatus").alias("ls"),
            (F.col("l_partkey") % 25).alias("dk"),
        )
        .groupBy("txn_id")
        .agg(
            F.sum("cents").alias("amount_cents"),
            F.max("ls").alias("status"),
            F.concat(F.lit("D"), F.min("dk").cast("string")).alias(
                "dept_id"
            ),
        )
        # linenumber < 10, so txn_id div 10 recovers the orderkey the
        # batch-2 mutations key on
        .withColumn("_ok", F.floor(F.col("txn_id") / 10).cast("bigint"))
    )

    target = scd2_initial(
        base.drop("_ok"), F.lit(_SCD2_SF_TS1).cast("timestamp")
    )
    # batch 2: drop %17 keys, mutate %3 amounts, NULL %31 statuses,
    # add brand-new %10 keys
    source = base.filter(F.col("_ok") % 17 != 0).select(
        "txn_id",
        F.when(F.col("_ok") % 3 == 0, F.col("amount_cents") + 100)
        .otherwise(F.col("amount_cents"))
        .alias("amount_cents"),
        F.when(F.col("_ok") % 31 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("status"))
        .alias("status"),
        "dept_id",
    ).unionByName(
        base.filter(F.col("_ok") % 10 == 0).select(
            (F.col("txn_id") + F.lit(1000000000000)).alias("txn_id"),
            (F.col("amount_cents") * 2).alias("amount_cents"),
            F.lit("N").alias("status"),
            "dept_id",
        )
    )
    return target, source


def scd2_sf_merge(target: DataFrame, source: DataFrame) -> DataFrame:
    """The strict reference MERGE over the sf batches (any layout)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.operators.scd2 import (  # noqa: PLC0415
        scd2_merge,
    )

    return scd2_merge(
        target,
        source,
        key_cols=["txn_id"],
        tracked_cols=["amount_cents", "status"],
        ts=F.lit(_SCD2_SF_TS2).cast("timestamp"),
        carry_cols=["dept_id"],
    )


def q_scd2_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SCD2 merge cycle at sf: initial load + second-batch MERGE
    (strict reference semantics incl. half-SCD2 and NULL-unsafe ``<>``),
    then a broadcast-dim gold mart over the merged table."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
        load_tables,
    )

    nation = load_tables(spark, sf_dir, "nation")
    target, source = scd2_sf_batches(spark, sf_dir)
    merged = scd2_sf_merge(target, source)

    dept = nation.select(
        F.concat(F.lit("D"), F.col("n_nationkey").cast("string")).alias(
            "dept_id"
        ),
        F.col("n_name").alias("dept_name"),
    )
    return (
        merged.join(F.broadcast(dept), "dept_id", "left")
        .groupBy(
            "is_current",
            F.date_format("modified_date", "yyyy-MM-dd").alias("modified"),
            "dept_name",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("amount_cents").alias("total_cents"),
            F.countDistinct("status").alias("n_status"),
        )
    )


# DuckDB twin: LEFT-join change classification replicates the MERGE —
# expire fires only when the OR of NULL-unsafe <> terms is literally
# TRUE (CASE/COALESCE -> FALSE on NULL, same three-valued gate as
# Spark's when()); inserts are the anti-join side; absent keys stay
# current. modified collapses to TS1/TS2 by construction.
_ORACLE_SCD2_SF = """
WITH b1 AS (
  SELECT txn_id,
         CAST(SUM(cents) AS BIGINT) AS amount_cents,
         MAX(ls) AS status,
         'D' || CAST(MIN(dk) AS VARCHAR) AS dept_id,
         txn_id // 10 AS ok
  FROM (
    SELECT l_orderkey * 10 + l_linenumber AS txn_id,
           (l_orderkey * 37 + l_linenumber * 13 + l_partkey) % 100000
             AS cents,
           l_linestatus AS ls,
           l_partkey % 25 AS dk
    FROM lineitem
  )
  GROUP BY txn_id
), src AS (
  SELECT txn_id,
         CASE WHEN ok % 3 = 0 THEN amount_cents + 100
              ELSE amount_cents END AS amount_cents,
         CASE WHEN ok % 31 = 0 THEN NULL ELSE status END AS status,
         dept_id
  FROM b1 WHERE ok % 17 <> 0
  UNION ALL
  SELECT txn_id + 1000000000000, amount_cents * 2, 'N', dept_id
  FROM b1 WHERE ok % 10 = 0
), from_target AS (
  SELECT b1.amount_cents, b1.status, b1.dept_id,
         NOT COALESCE(
           s.txn_id IS NOT NULL AND
           (b1.amount_cents <> s.amount_cents OR b1.status <> s.status),
           FALSE) AS is_current
  FROM b1 LEFT JOIN src s ON b1.txn_id = s.txn_id
), merged AS (
  SELECT dept_id, amount_cents, status, is_current,
         CASE WHEN is_current THEN '2025-01-01'
              ELSE '2025-02-01' END AS modified
  FROM from_target
  UNION ALL
  SELECT s.dept_id, s.amount_cents, s.status, TRUE, '2025-02-01'
  FROM src s LEFT JOIN b1 ON b1.txn_id = s.txn_id
  WHERE b1.txn_id IS NULL
)
SELECT m.is_current, m.modified, n.n_name AS dept_name,
       COUNT(*) AS n_rows,
       CAST(SUM(m.amount_cents) AS BIGINT) AS total_cents,
       COUNT(DISTINCT m.status) AS n_status
FROM merged m
LEFT JOIN (
  SELECT 'D' || CAST(n_nationkey AS VARCHAR) AS dept_id, n_name FROM nation
) n USING (dept_id)
GROUP BY 1, 2, 3
"""

QUERIES.append(
    QuerySpec(
        "q_scd2_sf",
        q_scd2_sf,
        _ORACLE_SCD2_SF,
        "§2.6 SCD2 MERGE at sf: expire/insert/absent/NULL-quirk "
        "+ J1 broadcast mart (silver.sql:142-199)",
    )
)
