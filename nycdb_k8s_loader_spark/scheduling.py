"""Per-dataset refresh schedules + k8s CronJob manifest generation.

Capability twin of /root/reference/scheduling.py:6-42 (frequency enum
abstracted from the backend), :63-100 (dataset → frequency map), and
k8s_build_jobs.py:41-76 (CronJob manifests from the map). The engine
itself only *declares* schedules; execution belongs to an external
scheduler (k8s CronJob / Airflow) running the generated manifests,
each of which invokes ``spark-submit -m cli load <dataset>`` — the
same engine/scheduler separation the reference draws.

The dataset names and slot assignments mirror the reference's
observable registry surface (scheduling.py:45-100) so a user of the
reference finds the same datasets on the same cadence here.
"""

from __future__ import annotations

import os
from enum import Enum


class Schedule(Enum):
    """Cron expressions in scheduler-local time (the manifests pin
    timeZone America/New_York like the reference's
    k8s-job-template.yml)."""

    DAILY_10PM = "0 22 * * *"
    DAILY_11PM = "0 23 * * *"
    DAILY_7AM = "0 7 * * *"
    DAILY_8AM = "0 8 * * *"
    # Alternating days ~11pm (imperfect across Feb/leap years — same
    # accepted trade as the reference).
    ODD_DAYS_11PM = "0 23 1-31/2 * *"
    EVEN_DAYS_11PM = "0 23 2-30/2 * *"
    YEARLY = "@yearly"

    @property
    def cron(self) -> str:
        return self.value


#: If a dataset has no explicit slot, refresh yearly (reference
#: scheduling.py:60-61).
DEFAULT_SCHEDULE = Schedule.YEARLY

#: Per-dataset slot assignments (reference scheduling.py:63-100).
DATASET_SCHEDULES: dict[str, Schedule] = {
    "oca": Schedule.DAILY_10PM,
    "oca_address": Schedule.DAILY_10PM,
    "hpd_violations": Schedule.DAILY_10PM,
    "hpd_complaints": Schedule.DAILY_10PM,
    "dobjobs": Schedule.DAILY_11PM,
    "dob_complaints": Schedule.DAILY_11PM,
    "dob_violations": Schedule.DAILY_11PM,
    "ecb_violations": Schedule.DAILY_11PM,
    "oath_hearings": Schedule.DAILY_11PM,
    "marshal_evictions": Schedule.DAILY_11PM,
    "hpd_conh": Schedule.DAILY_11PM,
    "hpd_aep": Schedule.DAILY_11PM,
    "hpd_underlying_conditions": Schedule.DAILY_11PM,
    "wow": Schedule.DAILY_7AM,
    "good_cause_eviction": Schedule.DAILY_8AM,
    "hpd_vacateorders": Schedule.ODD_DAYS_11PM,
    "hpd_registrations": Schedule.ODD_DAYS_11PM,
    "dof_sales": Schedule.ODD_DAYS_11PM,
    "pad": Schedule.ODD_DAYS_11PM,
    "acris": Schedule.EVEN_DAYS_11PM,
    "pluto_latest": Schedule.ODD_DAYS_11PM,
    "dcp_housingdb": Schedule.ODD_DAYS_11PM,
    "speculation_watch_list": Schedule.ODD_DAYS_11PM,
    "hpd_affordable_production": Schedule.ODD_DAYS_11PM,
    "dof_tax_lien_sale_list": Schedule.ODD_DAYS_11PM,
    "dob_certificate_occupancy": Schedule.ODD_DAYS_11PM,
    "dob_safety_violations": Schedule.ODD_DAYS_11PM,
    "hpd_charges": Schedule.DAILY_11PM,
    "dhs_daily_shelter_count": Schedule.DAILY_11PM,
    "signature": Schedule.DAILY_7AM,
    "dohmh_rodent_inspections": Schedule.DAILY_11PM,
    "hpd_ll44": Schedule.ODD_DAYS_11PM,
    "dos_active_corporations": Schedule.ODD_DAYS_11PM,
    "dof_property_valuation_and_assessments": Schedule.ODD_DAYS_11PM,
    "hpd_litigations": Schedule.DAILY_11PM,
    "executed_evictions": Schedule.DAILY_11PM,
}


def schedule_for(
    dataset: str, overrides: dict[str, Schedule] | None = None
) -> Schedule:
    """Slot lookup: explicit override → registry map → yearly default
    (reference get_schedule_for_dataset)."""
    if overrides and dataset in overrides:
        return overrides[dataset]
    return DATASET_SCHEDULES.get(dataset, DEFAULT_SCHEDULE)


# --- k8s CronJob manifest generation (reference k8s_build_jobs.py) ---

#: Env vars forwarded into each job container (reference
#: k8s_build_jobs.py:20-31; the Spark engine needs only its own).
CONTAINER_ENV_VARS = [
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "LANDING_DIR",
    "WAREHOUSE_DIR",
    "SLACK_WEBHOOK_URL",
]


def slugify(name: str) -> str:
    return name.replace("_", "-")


def cronjob_manifest(
    dataset: str,
    image: str = "spark-graft:latest",
    overrides: dict[str, Schedule] | None = None,
) -> str:
    """One k8s CronJob manifest (YAML text) for a dataset load —
    the reference's template with the container command swapped to
    ``spark-submit`` of our CLI. Emitted as a literal template (no
    yaml dependency): same resources/backoff/timeZone knobs as
    k8s-job-template.yml."""
    # Secrets/config are referenced, never baked in: generation-time
    # interpolation would write live env values (including webhook
    # secrets) into files that get committed or shipped.
    env_lines = "\n".join(
        f"            - name: {v}\n"
        f"              valueFrom:\n"
        f"                secretKeyRef:\n"
        f"                  name: spark-graft-env\n"
        f"                  key: {v}\n"
        f"                  optional: true"
        for v in CONTAINER_ENV_VARS
    )
    return f"""apiVersion: batch/v1
kind: CronJob
metadata:
  name: load-dataset-{slugify(dataset)}
spec:
  schedule: "{schedule_for(dataset, overrides).cron}"
  timeZone: "America/New_York"
  jobTemplate:
    spec:
      backoffLimit: 2
      template:
        spec:
          restartPolicy: Never
          containers:
          - name: load-dataset
            image: {image}
            command: ["spark-submit", "--master", "k8s://https://kubernetes.default", "/app/nycdb_k8s_loader_spark/cli.py", "load", "{dataset}"]
            resources:
              requests:
                memory: "128Mi"
                cpu: "1000m"
            env:
{env_lines}
"""


def build_all_manifests(
    jobs_dir: str,
    datasets: list[str] | None = None,
    image: str = "spark-graft:latest",
) -> list[str]:
    """Write one manifest per dataset, every registered one by default
    (reference k8s_build_jobs.py main loop); returns the written paths."""
    from nycdb_k8s_loader_spark.datasets import builtin_registry

    os.makedirs(jobs_dir, exist_ok=True)
    names = datasets if datasets is not None else builtin_registry().names()
    written = []
    for ds in names:
        path = os.path.join(jobs_dir, f"load_dataset_{ds}.yml")
        with open(path, "w") as f:
            f.write(cronjob_manifest(ds, image=image))
        written.append(path)
    return written
