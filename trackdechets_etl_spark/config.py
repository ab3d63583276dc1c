"""Engine configuration — the Airflow Variable store replaced.

The reference threads paths/URLs/credentials through Airflow
``Variable.get/set`` (reference ``dags/icpe-siretisation.py:12-13,23,41,
229,364-372``; the full variable surface is ``sample.env.sh:9-42``,
injected as ``AIRFLOW_VAR_*`` env vars) — including a hidden
cross-process side channel (a task ``Variable.set`` read back by later
tasks). Here configuration is an explicit, immutable dataclass built
once from env vars and passed to the code that needs it; there is no
mutable global store for pipeline steps to signal through.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields


@dataclass(frozen=True)
class EngineConfig:
    """All knobs the pipelines need, with the reference's variable
    surface mapped to ``SPARK_GRAFT_*`` env vars."""

    data_dir: str = "/tmp/trackdechets_etl_spark"
    icpe_data_url: str = ""
    gerep_data_url: str = ""
    jdbc_url: str = ""
    jdbc_user: str = ""
    jdbc_password: str = ""
    datagouv_api_url: str = ""
    datagouv_api_key: str = ""

    @classmethod
    def from_env(cls, prefix: str = "SPARK_GRAFT_", **overrides) -> "EngineConfig":
        """Build from ``{prefix}{FIELD_UPPER}`` env vars; explicit
        keyword overrides win over the environment."""
        kwargs = {}
        for f in fields(cls):
            env_val = os.environ.get(f"{prefix}{f.name.upper()}")
            if env_val is not None:
                kwargs[f.name] = env_val
        kwargs.update(overrides)
        return cls(**kwargs)

    def jdbc_properties(self) -> dict[str, str]:
        props = {}
        if self.jdbc_user:
            props["user"] = self.jdbc_user
        if self.jdbc_password:
            props["password"] = self.jdbc_password
        return props
