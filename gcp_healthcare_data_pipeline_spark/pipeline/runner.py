"""Config-driven medallion pipeline runner (SURVEY §3 EP1-EP3, §2.11).

Replaces the reference's Airflow→Dataproc→BigQuery chain with a single
process driving Spark stages over a filesystem warehouse:

    landing (JSON) -> bronze (parquet) -> silver (conform+SCD2) -> gold

Semantics preserved: config-as-data table loop with full/incremental
dispatch (C1), audit-ledger high-watermark (C2), archive-before-load (C5),
per-table error isolation (C6), structured logging (C3), quarantine +
SCD2 in silver, truncate-and-reload gold marts.

Scale posture: all stage boundaries are parquet (restartable, columnar,
partition-prunable); no toPandas/collect on data paths — the only driver
round-trips are the config loop and one grouped watermark read per run,
both O(tables).

Job posture: at local scale a run is bound by per-job scheduling, not
data, so the runner spends no job on bookkeeping. Row counts ride along
each write as an ``Observation``; a table this run wrote is read back
under the schema it was written with, so no schema-inference job runs;
and the independent tables of each zone are written from a bounded
driver thread pool (``concurrency.run_all``), so one write's task tail
overlaps the next write's planning.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from gcp_healthcare_data_pipeline_spark.concurrency import run_all
from gcp_healthcare_data_pipeline_spark.operators.scd2 import (
    scd2_initial,
    scd2_merge,
)
from gcp_healthcare_data_pipeline_spark.pipeline.audit import (
    AuditLedger,
    PipelineLogger,
)
from gcp_healthcare_data_pipeline_spark.plans import gold as gold_plans
from gcp_healthcare_data_pipeline_spark.plans.conform import (
    ENTITIES,
    conform_source,
    conform_union,
    normalize_cpt_headers,
)
from gcp_healthcare_data_pipeline_spark.schemas import (
    CLAIMS,
    CPT_CODES_RAW,
    EMR_TABLES,
    LOAD_CONFIG,
)
from gcp_healthcare_data_pipeline_spark.sources.readers import (
    read_csv,
    read_csv_reporting,
)
from gcp_healthcare_data_pipeline_spark.sources.writers import (
    archive_landing_files,
    write_landing_json,
)


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count riding along its next action: after the
    write, ``obs.get["n"]`` replaces a separate ``count()`` job. The
    action must run on the returned frame itself (an Observation on a
    lazily ``localCheckpoint``ed frame reads ``{'n': 0}``)."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


@dataclass
class SourcePaths:
    """Where raw inputs live: emr[datasource][table] -> csv path,
    claims -> glob, cptcodes -> path, load_config -> csv path."""

    emr: dict[str, dict[str, str]]
    claims_glob: str
    cptcodes: str
    load_config: str


class Runner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        clock: datetime | None = None,
        retries: int = 1,
        retry_delay_s: float = 0.0,
        versioned_gold: bool = False,
        gold_retain: int = 3,
    ):
        # retries/retry_delay_s mirror the reference DAGs' retry policy
        # (dags/parent_dag.py:16-17, dags/bq_dag.py:39-40: 1 retry, 5-min
        # delay); tests pass retry_delay_s=0. versioned_gold additionally
        # snapshots each mart into gold_history/<mart>/v=NNNNNN with an
        # atomic pointer commit (operators/versioning.py) so downstream
        # consumers can time-travel / pin reproducible inputs.
        self.spark = spark
        self.warehouse = warehouse
        self.clock = clock or datetime.utcnow()
        self.retries = retries
        self.retry_delay_s = retry_delay_s
        self.versioned_gold = versioned_gold
        self.gold_retain = gold_retain
        self.ledger = AuditLedger(spark, os.path.join(warehouse, "control"))
        self.logger = PipelineLogger(spark, os.path.join(warehouse, "control"))
        # path -> schema of every zone table this run wrote (see _read)
        self._schemas: dict[str, StructType] = {}

    # -- path helpers ------------------------------------------------------
    def _zone(self, *parts: str) -> str:
        return os.path.join(self.warehouse, *parts)

    def _read(self, path: str, schema: StructType | None = None) -> DataFrame:
        """Parquet read of a zone table. A table this run wrote is read
        under the schema it was written with (or under ``schema``), so no
        schema-inference job runs; any other table is inferred."""
        schema = schema or self._schemas.get(path)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(path)

    def _write_replace(self, df: DataFrame, path: str) -> int:
        """Safe overwrite even when ``df`` reads from ``path``: write to a
        temp dir, then swap. (INSERT OVERWRITE onto your own input loses
        the data in plain-parquet Spark.) Returns the rows written."""
        df, obs = _observed(df)
        tmp = path + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        self._schemas[path] = df.schema
        return obs.get["n"]

    def _ts(self) -> F.Column:
        """Injectable CURRENT_TIMESTAMP (deterministic tests, SURVEY §7)."""
        return F.lit(self.clock.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")

    # -- stage 1: config-driven landing ingest (EP2) -----------------------
    def _land_table(
        self, sources: SourcePaths, row, attempt: int = 1, log=None
    ) -> int:
        """Land one config row; returns row count. Raises on failure.
        ``log`` takes the table's pipeline-log calls (default: the run's
        logger)."""
        log = log or self.logger.log
        ds, table = row["datasource"], row["tablename"]
        src_path = sources.emr[ds][table]
        schema = EMR_TABLES[table][ds]
        df, drift = read_csv_reporting(self.spark, src_path, schema)
        if (drift["missing"] or drift["unexpected"]) and attempt == 1:
            # SURVEY §1.3: diagnose drift, don't just tolerate it — one
            # DRIFT control row per (source, table, load) naming exactly
            # which declared columns the header dropped and which novel
            # columns it added (the hospital-B Updated_Date case)
            log(
                "DRIFT",
                f"header drift: missing={drift['missing']} "
                f"unexpected={drift['unexpected']}",
                "landing",
                table,
            )
        load_type = (row["loadtype"] or "Full").strip()
        if load_type.lower() == "incremental" and row["watermark"]:
            wm = self.ledger.last_watermark(ds, table)
            if wm is not None:
                df = df.filter(
                    F.col(row["watermark"]).cast("timestamp") > F.lit(wm)
                )
        landing = self._zone("landing", ds, table)
        if attempt == 1:
            archive_landing_files(
                landing, self._zone("landing", ds, "archive", table), self.clock,
            )
        elif os.path.isdir(landing):
            # retry: the landing dir holds partial output from the failed
            # attempt, not prior-run data (that was archived on attempt 1)
            # — wipe it rather than pollute the dated archive with it
            shutil.rmtree(landing, ignore_errors=True)
        # count the frame as it is written — neither a count() job before
        # the write nor a re-read of the landing sink (an extra scan +
        # JSON schema inference per table per run)
        df, obs = _observed(df)
        write_landing_json(df, landing)
        return obs.get["n"]

    def _land_with_retries(self, sources: SourcePaths, row) -> list[tuple]:
        """Land one config row under the retry policy (C6: a failure is
        recorded, never raised). Returns the table's control-table calls
        as ``(method, args, kwargs)`` for the caller to apply in config
        order."""
        ds, table = row["datasource"], row["tablename"]
        load_type = (row["loadtype"] or "Full").strip()
        calls: list[tuple] = []

        def log(*args, **kwargs):
            calls.append((self.logger.log, args, kwargs))

        def record(*args):
            calls.append((self.ledger.record, args, {}))

        attempts = 1 + max(0, self.retries)
        for attempt in range(1, attempts + 1):
            try:
                n = self._land_table(sources, row, attempt, log)
                record(ds, table, load_type, n, "success", self.clock)
                log("INFO", f"landed {n} rows", "landing", table)
                break
            except Exception as e:
                if attempt < attempts:
                    log(
                        "WARN",
                        f"attempt {attempt} failed, retrying: {e}",
                        "landing", table,
                    )
                    if self.retry_delay_s:
                        time.sleep(self.retry_delay_s)
                    continue
                # C6: isolate per-table failures; one audit row per load
                record(ds, table, load_type, 0, "failed", self.clock)
                log("ERROR", str(e), "landing", table, error=e)
        return calls

    def ingest_to_landing(self, sources: SourcePaths) -> None:
        config = read_csv(self.spark, sources.load_config, LOAD_CONFIG)
        active = config.filter(F.col("is_active") == "1").collect()  # C1 loop
        # tables land concurrently; their control rows are applied in
        # config order once all have settled, so audit_log and
        # pipeline_logs keep a deterministic row order
        calls = run_all({
            i: functools.partial(self._land_with_retries, sources, row)
            for i, row in enumerate(active)
        })
        for i in range(len(active)):
            for method, args, kwargs in calls[i]:
                method(*args, **kwargs)
        # one batched control-table append for the whole landing stage
        self.ledger.flush()
        self.logger.flush()

    # -- stage 2: bronze ---------------------------------------------------
    def build_bronze(self, sources: SourcePaths) -> None:
        def emr(ds: str, table: str) -> None:
            # landing JSON -> bronze parquet (schema-on-read, bronze.sql)
            schema = EMR_TABLES.get(table, {}).get(ds)
            reader = self.spark.read
            if schema is not None:
                # declared schema: stable columns even for empty deltas,
                # and no inference scan over the landing
                reader = reader.schema(schema)
            df = reader.json(self._zone("landing", ds, table))
            if df.columns:  # else an unknown-table empty delta: keep bronze
                self._write_replace(df, self._zone("bronze", ds, table))

        def claims() -> None:
            # glob CSV scan + filename provenance tag + dedup
            # (claims.py:11-25)
            df = read_csv(self.spark, sources.claims_glob, CLAIMS)
            df = df.withColumn(
                "datasource",
                F.when(F.input_file_name().contains("hospital1"), "hospital1")
                .when(F.input_file_name().contains("hospital2"), "hospital2")
                .otherwise("unknown"),
            ).dropDuplicates()
            self._write_replace(df, self._zone("bronze", "claims"))

        def cptcodes() -> None:
            # header normalization (cpt_codes.py:18-20)
            cpt = normalize_cpt_headers(
                read_csv(self.spark, sources.cptcodes, CPT_CODES_RAW)
            )
            self._write_replace(cpt, self._zone("bronze", "cptcodes"))

        writes = {}
        landing_root = self._zone("landing")
        if os.path.isdir(landing_root):
            for ds in sorted(os.listdir(landing_root)):
                for table in sorted(os.listdir(os.path.join(landing_root, ds))):
                    if table == "archive":
                        continue
                    path = self._zone("landing", ds, table)
                    # a landing dir without JSON part files (its load
                    # failed after the archive step) is skipped up front:
                    # a bare read would raise an AnalysisException that
                    # Spark logs with a full ERROR stack trace even when
                    # handled. An empty delta still writes one empty
                    # part file, so its bronze table is rewritten empty.
                    if any(
                        f.endswith(".json") or f.startswith("part-")
                        for f in os.listdir(path)
                    ):
                        writes[f"bronze/{ds}/{table}"] = functools.partial(
                            emr, ds, table
                        )
        writes["bronze/claims"] = claims
        writes["bronze/cptcodes"] = cptcodes
        run_all(writes)

    # -- stage 3: silver (conform + quarantine + SCD2) ---------------------
    def _silver_apply(self, name: str, staged: DataFrame) -> None:
        spec = ENTITIES[name]
        path = self._zone("silver", name)
        if not spec.scd2:
            # truncate-and-reload snapshot (silver.sql:35-65 providers)
            self._write_replace(staged, path)
            return
        data_cols = list(staged.columns)
        carry = [
            c for c in data_cols if c != spec.key_col and c not in spec.tracked
        ]
        if os.path.isdir(path):
            # the target was written under the staged columns plus the
            # SCD2 ones, which is scd2_initial's output schema
            target = self._read(path, scd2_initial(staged, self._ts()).schema)
            merged = scd2_merge(
                target.select(*data_cols, "inserted_date", "modified_date",
                              "is_current"),
                staged,
                key_cols=[spec.key_col],
                tracked_cols=list(spec.tracked),
                ts=self._ts(),
                carry_cols=carry,
            )
        else:
            merged = scd2_initial(staged, self._ts())
        self._write_replace(merged, path)

    def build_silver(self) -> None:
        def bronze(*parts: str) -> DataFrame:
            return self._read(self._zone("bronze", *parts))

        staged = {
            name: conform_union([
                conform_source(bronze(ds, name), ENTITIES[name], ds)
                for ds in ("hospital_a_db", "hospital_b_db")
            ])
            for name in ("patients", "encounters", "transactions",
                         "providers", "departments")
        }
        # claims: branches keyed by provenance tag, not separate files
        claims = bronze("claims")
        staged["claims"] = conform_union([
            conform_source(
                claims.filter(F.col("datasource") == ds).drop("datasource"),
                ENTITIES["claims"], ds,
            )
            for ds in ("hospital1", "hospital2")
        ])
        staged["cpt_codes"] = conform_source(
            bronze("cptcodes"), ENTITIES["cpt_codes"], "cptcodes"
        )
        run_all({
            f"silver/{name}": functools.partial(self._silver_apply, name, df)
            for name, df in staged.items()
        })

    # -- stage 4: gold (truncate-and-reload marts) -------------------------
    def build_gold(self) -> dict[str, int]:
        """Write every mart; returns {mart: rows written}."""
        s = {
            n: self._read(self._zone("silver", n))
            for n in ("patients", "encounters", "transactions", "providers",
                      "departments", "claims")
        }
        marts = {
            "provider_charge_summary": gold_plans.provider_charge_summary(
                s["transactions"], s["providers"], s["departments"]
            ),
            "patient_history": gold_plans.patient_history(
                s["patients"], s["encounters"], s["transactions"], s["claims"]
            ),
            "provider_performance": gold_plans.provider_performance(
                s["providers"], s["encounters"], s["transactions"], s["claims"]
            ),
            "department_performance": gold_plans.department_performance(
                s["departments"], s["encounters"], s["transactions"]
            ),
            # the reference's two placeholder marts (gold.sql:165-169),
            # completed as declared extensions
            "financial_metrics": gold_plans.financial_metrics(s["transactions"]),
            "payor_performance": gold_plans.payor_performance(s["claims"]),
        }
        counts = run_all({
            name: functools.partial(
                self._write_replace, df, self._zone("gold", name)
            )
            for name, df in marts.items()
        })
        if self.versioned_gold:
            # snapshot history beside the live mart: readers pin a
            # version id for reproducible downstream runs while the
            # truncate-reload path stays reference-faithful
            from gcp_healthcare_data_pipeline_spark.operators.versioning import (  # noqa: PLC0415
                manifest_pins,
                prune_snapshot_manifests,
                write_snapshot_manifest,
                write_versions_concurrently,
            )

            history_root = self._zone("gold_history")
            # GC manifests first, then honor surviving pins: version
            # retention and manifest retention move together, so an
            # old-but-retained run's snapshot always resolves
            prune_snapshot_manifests(history_root, self.gold_retain)
            snapshot_versions = write_versions_concurrently({
                name: (
                    self._read(self._zone("gold", name)),
                    self._zone("gold_history", name),
                    {
                        "retain": self.gold_retain,
                        "pinned": manifest_pins(history_root, name),
                    },
                )
                for name in marts
            })
            for name in marts:
                self.logger.log(
                    "INFO", f"gold/{name} snapshot v{snapshot_versions[name]}",
                    "gold",
                )
            # one manifest pins ALL marts of this run to each other:
            # cross-table-consistent time travel (per-table pointers
            # alone can mix run N and N-1 for a reader mid-refresh)
            run_id = self.clock.strftime("%Y%m%dT%H%M%S")
            write_snapshot_manifest(history_root, snapshot_versions, run_id)
            self.logger.log(
                "INFO", f"gold snapshot manifest {run_id}", "gold"
            )
        return counts

    # -- maintenance: small-file compaction over warehouse zones -----------
    def compact_zone(
        self, zone: str, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, dict]:
        """Bin-pack every table directory under a warehouse zone
        (operators/compaction.py). Incremental appends and per-partition
        task counts fragment the silver tables over many runs; at 100 TB
        the file-listing tail dominates scan planning, so compaction is a
        scheduled maintenance stage, not a one-off. The no-op heuristic
        keeps healthy tables untouched, so running it every cycle is
        cheap."""
        from gcp_healthcare_data_pipeline_spark.operators.compaction import (  # noqa: PLC0415
            compact,
            recover_interrupted_swap,
        )

        zone_dir = self._zone(zone)
        results: dict[str, dict] = {}
        if not os.path.isdir(zone_dir):
            return results
        for name in sorted(os.listdir(zone_dir)):
            path = os.path.join(zone_dir, name)
            if name.endswith(".old"):
                # a crash between _swap_dirs' two renames leaves only
                # '<table>.old' in the listing — recovery must target the
                # LIVE path, not the .old dir itself. If the live dir
                # survived (crash after tmp->live but before .old
                # cleanup), finish the swap by dropping the leftover.
                live = path[: -len(".old")]
                if not recover_interrupted_swap(live) and os.path.isdir(live):
                    shutil.rmtree(path, ignore_errors=True)
                continue
            if ".compact-" in name:
                # orphaned rewrite temp from a crash before the swap:
                # never a real table — sweep it, don't compact it
                shutil.rmtree(path, ignore_errors=True)
                continue
            if not os.path.isdir(path):
                continue
            try:
                results[name] = compact(self.spark, path, target_bytes)
                if results[name]["compacted"]:
                    self.logger.log(
                        "INFO",
                        f"compacted {zone}/{name}: "
                        f"{results[name]['n_files']} -> "
                        f"{results[name]['target_files']} files",
                        "compact",
                    )
            except Exception as exc:  # per-table isolation, like ingest
                self.logger.log("ERROR", f"compact {zone}/{name}: {exc}",
                                "compact")
        return results

    # -- full run (EP1) ----------------------------------------------------
    def run(
        self, sources: SourcePaths, *, bucketize: bool = False
    ) -> dict[str, int]:
        """End-to-end pipeline. ``bucketize=True`` additionally
        materializes bucketed silver catalog tables after the silver
        stage (pipeline/bucketing.py) — the at-scale layout under which
        the SCD2 merge join and the gold patient-chain joins run
        exchange-free (proved by tests/test_silver_bucketing.py and
        tests/test_scd2.py::test_scd2_merge_join_shuffle_free_on_bucketed_tables).
        Path-parquet stays the source of truth either way."""
        self.logger.log("INFO", "pipeline start", "run")
        self.ingest_to_landing(sources)
        self.build_bronze(sources)
        self.build_silver()
        if bucketize:
            from gcp_healthcare_data_pipeline_spark.pipeline.bucketing import (  # noqa: PLC0415
                bucketize_silver,
            )

            tables = bucketize_silver(self.spark, self.warehouse)
            self.logger.log(
                "INFO", f"bucketized silver: {sorted(tables)}", "run"
            )
        out = self.build_gold()
        self.logger.log("INFO", f"pipeline done: {out}", "run")
        self.ledger.flush()
        self.logger.flush()
        return out
