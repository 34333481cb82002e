"""Stage checkpoints with manifests: resumability + per-partition lineage.

The reference memoizes every expensive stage as a pickle file and
early-returns when it exists (blocking.py:86-94, workflow.py:359-362). The
Spark-native equivalent: each stage writes parquet + a JSON manifest
carrying the stage's config hash, row count, and per-partition lineage
counters. Re-running with the same config hash skips the compute and reads
the parquet back; a changed config invalidates the checkpoint. On a real
lake, the parquet directory is an Iceberg table and the manifest collapses
into its snapshot metadata — the manifest file keeps the sandbox free of
external jars while preserving the semantics.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from soweego_spark.operators import pins

MANIFEST_NAME = "_stage_manifest.json"


def config_hash(config: dict) -> str:
    blob = json.dumps(config, sort_keys=True, default=str).encode("utf8")
    return hashlib.sha256(blob).hexdigest()[:16]


class StageCheckpointer:
    """Directory-per-stage checkpoint store.

    ``bucket_specs`` opts designated stages into BUCKETED persistence:
    ``{"signatures": {"bucket_cols": ["url"], "sort_cols": ["url"],
    "n_buckets": 32}}`` writes that stage as a bucketed parquet table, so
    a RESUMED run's joins against it start Exchange-free on the
    checkpointed side (the signatures table is the repeatedly re-joined
    side of pair assembly; at 10^12 rows re-shuffling it on every resume
    is the dominant avoidable cost). The bucket layout survives session
    restarts: the manifest records the spec + schema DDL and ``load``
    re-registers the external bucketed table in the (session-local)
    catalog before reading it back.
    """

    def __init__(
        self,
        root: str | Path,
        spark: SparkSession,
        bucket_specs: dict[str, dict] | None = None,
        table_format: str = "parquet",
    ):
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(
                f"table_format must be 'parquet' or 'iceberg', got {table_format!r}"
            )
        self.root = Path(root)
        self.spark = spark
        self.bucket_specs = bucket_specs or {}
        self.table_format = table_format
        self.root.mkdir(parents=True, exist_ok=True)

    def _paths(self, stage: str) -> tuple[Path, Path]:
        d = self.root / stage
        return d, d / MANIFEST_NAME

    def _table_name(self, stage: str) -> str:
        # The stage name is interpolated into CREATE/DROP TABLE statements;
        # restrict it to a plain SQL identifier so a hyphen/dot (or worse)
        # can never produce a malformed or injected statement.
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", stage):
            raise ValueError(
                "bucketed stage name must be a SQL identifier "
                f"([A-Za-z_][A-Za-z0-9_]*), got {stage!r}"
            )
        tag = hashlib.sha256(
            str(self.root.resolve()).encode("utf8")
        ).hexdigest()[:10]
        return f"soweego_ckpt_{tag}_{stage}"

    def _register_ddl(
        self, stage: str, manifest: dict, data_dir: Path
    ) -> list[str]:
        """The statements that (re-)register a bucketed stage as an
        external table, in the configured ``table_format``.

        ``"parquet"`` (default, sandbox-tested): Spark-native bucketed
        parquet (``CLUSTERED BY ... INTO n BUCKETS``) — joins on the
        bucket columns start Exchange-free out of the box.

        ``"iceberg"`` (the lake seam): ``USING iceberg`` with the
        ``bucket(n, col)`` partition transform plus a ``WRITE ORDERED
        BY`` for the sort spec; the JSON manifest collapses into Iceberg's
        own snapshot metadata. Requires the Iceberg runtime jars and a
        configured catalog (absent in this sandbox, so only the DDL is
        unit-tested here). Note the honest caveat: Exchange-free joins on
        Iceberg bucket partitions additionally need Spark's
        storage-partitioned joins
        (``spark.sql.sources.v2.bucketing.enabled=true``); Spark-native
        bucketing gets them unconditionally.
        """
        tbl = self._table_name(stage)
        spec = manifest["bucket_spec"]
        # escape quotes in the LOCATION string literal — a root path
        # containing a single quote must not break the statement
        loc = str(data_dir).replace("'", "''")
        if self.table_format == "iceberg":
            transforms = ", ".join(
                f"bucket({spec['n_buckets']}, {c})"
                for c in spec["bucket_cols"]
            )
            stmts = [
                f"CREATE TABLE IF NOT EXISTS {tbl} "
                f"({manifest['schema_ddl']}) "
                f"USING iceberg "
                f"PARTITIONED BY ({transforms}) "
                f"LOCATION '{loc}'"
            ]
            if spec.get("sort_cols"):
                stmts.append(
                    f"ALTER TABLE {tbl} WRITE ORDERED BY "
                    f"({', '.join(spec['sort_cols'])})"
                )
            return stmts
        sort = (
            f"SORTED BY ({', '.join(spec['sort_cols'])}) "
            if spec.get("sort_cols")
            else ""
        )
        return [
            f"CREATE TABLE {tbl} ({manifest['schema_ddl']}) "
            f"USING PARQUET "
            f"CLUSTERED BY ({', '.join(spec['bucket_cols'])}) "
            f"{sort}INTO {spec['n_buckets']} BUCKETS "
            f"LOCATION '{loc}'"
        ]

    def _register_bucketed(
        self, stage: str, manifest: dict, data_dir: Path
    ) -> DataFrame:
        """(Re-)register the external bucketed table in this session's
        catalog and return it — required after a restart because the
        in-memory catalog does not persist, while the bucketed FILE layout
        on disk does."""
        tbl = self._table_name(stage)
        if not self.spark.catalog.tableExists(tbl):
            for stmt in self._register_ddl(stage, manifest, data_dir):
                self.spark.sql(stmt)
        return self.spark.table(tbl)

    def load(self, stage: str, cfg_hash: str) -> DataFrame | None:
        d, mf = self._paths(stage)
        if not mf.exists():
            return None
        manifest = json.loads(mf.read_text())
        if manifest.get("config_hash") != cfg_hash:
            return None
        if manifest.get("bucket_spec"):
            return self._register_bucketed(stage, manifest, d / "data")
        return self.spark.read.parquet(str(d / "data"))

    def save(self, stage: str, df: DataFrame, cfg_hash: str) -> DataFrame:
        d, mf = self._paths(stage)
        data_dir = d / "data"
        spec = self.bucket_specs.get(stage)
        schema_ddl = None
        if spec and self.table_format == "iceberg":
            # The write side only exists for Spark-native bucketed parquet.
            # Writing parquet here and registering USING iceberg on resume
            # would silently read an empty table (no Iceberg snapshot at
            # the location) — fail fast instead. The iceberg seam is the
            # registration DDL (_register_ddl); wire df.writeTo(...)
            # .using("iceberg") here when the runtime jars + catalog exist.
            raise NotImplementedError(
                "bucketed stage save with table_format='iceberg' requires "
                "an Iceberg write path (runtime jars + catalog); only the "
                "registration DDL seam is implemented in this sandbox"
            )
        # Invalidate before overwriting: a crash between the data write
        # and the manifest write must leave NO manifest, not the old one
        # pointing at the new config's rows.
        mf.unlink(missing_ok=True)
        if spec:
            from soweego_spark.sources.readers import write_bucketed_table

            tbl = self._table_name(stage)
            # drop any stale catalog entry so LOCATION can move with root
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            write_bucketed_table(
                df,
                tbl,
                list(spec["bucket_cols"]),
                n_buckets=int(spec.get("n_buckets", 32)),
                sort_cols=list(spec.get("sort_cols") or []) or None,
                path=str(data_dir),
            )
            persisted = self.spark.table(tbl)
            schema_ddl = persisted._jdf.schema().toDDL()
        else:
            df.write.mode("overwrite").parquet(str(data_dir))
            persisted = self.spark.read.parquet(str(data_dir))
        # Per-partition lineage counters (north rule): rows per output file
        # partition, recorded in the manifest.
        per_part = (
            persisted.groupBy(F.spark_partition_id().alias("partition"))
            .count()
            .collect()
        )
        manifest = {
            "stage": stage,
            "config_hash": cfg_hash,
            "row_count": int(sum(r["count"] for r in per_part)),
            "partitions": {str(r["partition"]): int(r["count"]) for r in per_part},
        }
        if spec:
            manifest["bucket_spec"] = {
                "bucket_cols": list(spec["bucket_cols"]),
                "sort_cols": list(spec.get("sort_cols") or []),
                "n_buckets": int(spec.get("n_buckets", 32)),
            }
            manifest["schema_ddl"] = schema_ddl
        # temp file + atomic rename: a torn write never leaves a half
        # manifest where load() would read it
        tmp = mf.with_name(mf.name + ".tmp")
        tmp.write_text(json.dumps(manifest, indent=2, sort_keys=True))
        tmp.replace(mf)
        return persisted

    def stage(self, name: str, config: dict, compute) -> DataFrame:
        """Memoized stage: load when the manifest matches, else compute+save.

        ``compute`` is a thunk returning the stage DataFrame; what it pins
        is released once the write is done (the stage returns the parquet).
        """
        h = config_hash(config)
        cached = self.load(name, h)
        if cached is not None:
            return cached
        with pins.scope():
            return self.save(name, compute(), h)

    def manifest(self, stage: str) -> dict | None:
        _, mf = self._paths(stage)
        return json.loads(mf.read_text()) if mf.exists() else None
