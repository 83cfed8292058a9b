"""Parameterized SQL model runner — the dbt-equivalent (SURVEY U4).

The reference materializes with ``dbt run --select dataset.table
--vars {date_range_start, date_range_end, ...}`` over an RPC server
(reference: pipelines/utils/execute_dbt_model/tasks.py:46-124
``run_dbt_model``; vars builder pipelines/rj_smtr/tasks.py:143-252).
Here a model is a SQL string (or ``.sql`` file) with ``{var}``
placeholders, an explicit dependency list, and a materialization mode:

- ``view``        : CREATE OR REPLACE TEMP VIEW
- ``table``       : full-refresh CTAS to a lake path
- ``incremental`` : INSERT OVERWRITE of only the partitions the
                    windowed SELECT produces (dynamic partition
                    overwrite → idempotent re-runs, SURVEY T6)

Selection supports the reference's ``+model`` / ``model+`` graph
operators (upstream/downstream closure). Incremental runs get their
window from a WatermarkStore exactly like the reference's
date-range vars.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pipelines_spark.sinks.partitioned import write_partitioned


@dataclass
class SqlModel:
    name: str
    sql: str
    depends_on: list[str] = field(default_factory=list)
    materialization: str = "view"  # view | table | incremental
    path: str | None = None
    partition_cols: list[str] = field(default_factory=list)

    def render(self, variables: dict[str, str]) -> str:
        out = self.sql
        for k, v in variables.items():
            out = out.replace("{" + k + "}", str(v))
        return out


class ModelRunner:
    """Tiny dependency-ordered SQL model executor."""

    def __init__(self, spark: SparkSession, models: list[SqlModel]):
        self.spark = spark
        self.models = {m.name: m for m in models}

    @classmethod
    def from_dir(cls, spark: SparkSession, models_dir: str) -> "ModelRunner":
        """Load ``*.sql`` files; a leading ``-- depends_on: a, b``
        comment declares dependencies."""
        models = []
        for fn in sorted(os.listdir(models_dir)):
            if not fn.endswith(".sql"):
                continue
            with open(os.path.join(models_dir, fn)) as f:
                sql = f.read()
            deps: list[str] = []
            for line in sql.splitlines():
                if line.strip().startswith("-- depends_on:"):
                    deps = [d.strip() for d in line.split(":", 1)[1].split(",") if d.strip()]
            models.append(SqlModel(name=fn[:-4], sql=sql, depends_on=deps))
        return cls(spark, models)

    def _selection(self, select: str | None) -> list[str]:
        if not select:
            ordered = list(TopologicalSorter(
                {n: m.depends_on for n, m in self.models.items()}
            ).static_order())
            return ordered
        target = select.strip("+")
        chosen = {target}
        if select.startswith("+"):
            frontier = [target]
            while frontier:
                cur = frontier.pop()
                for dep in self.models[cur].depends_on:
                    if dep not in chosen:
                        chosen.add(dep)
                        frontier.append(dep)
        if select.endswith("+"):
            frontier = [target]
            while frontier:
                cur = frontier.pop()
                for name, m in self.models.items():
                    if cur in m.depends_on and name not in chosen:
                        chosen.add(name)
                        frontier.append(name)
        ordered = list(TopologicalSorter(
            {n: [d for d in m.depends_on if d in chosen]
             for n, m in self.models.items() if n in chosen}
        ).static_order())
        return ordered

    def run(
        self,
        select: str | None = None,
        variables: dict[str, str] | None = None,
        *,
        full_refresh: bool = False,
    ) -> dict[str, DataFrame]:
        """Run the selected models in dependency order; returns the
        DataFrame per model (views stay lazy; tables are written)."""
        out: dict[str, DataFrame] = {}
        for name in self._selection(select):
            model = self.models[name]
            df = self.spark.sql(model.render(variables or {}))
            if model.materialization == "view":
                df.createOrReplaceTempView(name)
            elif model.materialization in ("table", "incremental"):
                if model.path is None:
                    raise ValueError(f"model {name}: table materialization needs a path")
                mode = (
                    "overwrite"
                    if (full_refresh or model.materialization == "table")
                    else "overwrite_partitions"
                )
                write_partitioned(df, model.path, model.partition_cols, mode=mode)
                # the schema just written: data columns, then the
                # partition columns as the strings their directory
                # names are, so registering infers nothing (no job)
                schema = T.StructType(
                    [T.StructField(f.name, f.dataType) for f in df.schema
                     if f.name not in model.partition_cols]
                    + [T.StructField(c, T.StringType()) for c in model.partition_cols]
                )
                self.spark.read.schema(schema).parquet(
                    model.path
                ).createOrReplaceTempView(name)
            else:
                raise ValueError(f"unknown materialization {model.materialization}")
            out[name] = df
        return out
