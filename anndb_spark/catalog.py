"""Dataset catalog + routing — the DDL/metadata surface.

Parity targets:
- dataset meta {id, dimension, space, partition_count, replication_factor}
  (`protobuf/proto/dataset.proto:93-101`, `storage/dataset.go:36-50`)
- create/delete/list/get (`storage/dataset_manager.go:74-184`)
- UuidMod routing: partition = (low64 % m + high64 % m) % m over the
  16-byte id (`storage/dataset.go:444-449`, `utils/uuid.go:9-12`)
- dimension validation on every write/search (`storage/dataset.go:451-456`)

The catalog is a parquet table of dataset metas; each dataset's vectors
live in a parquet table partitioned by the derived ``partition_id``
column, so partition pruning applies to partition-targeted scans.
Replication/Raft placement is external (north star): storage owns
durability, Spark owns layout.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anndb_spark.functions.spaces import SPACES

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("dataset_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("dimension", T.IntegerType(), False),
        T.StructField("space", T.StringType(), False),
        T.StructField("partition_count", T.IntegerType(), False),
        T.StructField("replication_factor", T.IntegerType(), False),
    ]
)

def uuid_mod(id_col: Column, m: int) -> Column:
    """The reference's UuidMod partitioner as a column expression.

    ``(low64 % m + high64 % m) % m`` over the 16-byte UUID
    (`utils/uuid.go:9-12`), operating on a 32-hex-char id string
    (dashes allowed).  Unsigned 64-bit halves are modeled with
    DECIMAL(20,0) arithmetic, which Catalyst folds JVM-side.
    """
    h = F.lower(F.regexp_replace(id_col, "-", ""))
    hi = F.conv(F.substring(h, 1, 16), 16, 10).cast("decimal(20,0)")
    lo = F.conv(F.substring(h, 17, 16), 16, 10).cast("decimal(20,0)")
    return ((lo % m + hi % m) % m).cast("int")


def route_by_key(df: DataFrame, key: Column, partition_count: int) -> DataFrame:
    """Integer-key routing: partition_id = pmod(key, n) (O21/O22 analogue
    for non-UUID keys). Adds a ``partition_id`` column."""
    return df.withColumn("partition_id", F.pmod(key, F.lit(partition_count)).cast("int"))


def with_partition_id(df: DataFrame, partition_count: int, id_col: str = "id") -> DataFrame:
    """UUID-key routing per the reference partitioner, with a hash
    fallback for non-UUID string ids (the reference only admits UUIDs,
    `storage/dataset_manager.go:110`; we accept any string key and keep
    the routing total)."""
    return df.withColumn(
        "partition_id",
        F.coalesce(
            uuid_mod(F.col(id_col), partition_count),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(partition_count)).cast("int"),
        ),
    )


# the reference's binary metadata codec length-prefixes keys with uint8
# and values with uint16 (`index/metadata.go:46-60`) — oversize entries
# are unencodable and must reject at write time
METADATA_MAX_KEY_BYTES = 255
METADATA_MAX_VALUE_BYTES = 65535


def metadata_too_long(
    meta_col: Column,
    max_key_bytes: int = METADATA_MAX_KEY_BYTES,
    max_value_bytes: int = METADATA_MAX_VALUE_BYTES,
) -> tuple[Column, Column]:
    """(bad_key, bad_value) boolean columns per the codec limits —
    byte lengths (octet_length), matching the uint8/uint16 prefixes."""
    ent = F.map_entries(meta_col)
    bad_key = F.coalesce(
        F.exists(ent, lambda e: F.octet_length(e.key) > max_key_bytes), F.lit(False)
    )
    bad_val = F.coalesce(
        F.exists(ent, lambda e: F.octet_length(e.value) > max_value_bytes),
        F.lit(False),
    )
    return bad_key, bad_val


def validate_metadata(df: DataFrame, meta_col: str = "metadata"):
    """Split df into (valid, rejects) on the metadata codec limits
    (`index/metadata.go:46-60`): key ≤ 255 bytes, value ≤ 65535 bytes.
    Null metadata is valid.  Rejects carry METADATA_KEY_TOO_LONG /
    METADATA_VALUE_TOO_LONG (key check first, like the encoder)."""
    bad_key, bad_val = metadata_too_long(F.col(meta_col))
    valid = df.filter(~bad_key & ~bad_val)
    rejects = df.filter(bad_key | bad_val).withColumn(
        "error",
        F.when(bad_key, F.lit("METADATA_KEY_TOO_LONG")).otherwise(
            F.lit("METADATA_VALUE_TOO_LONG")
        ),
    )
    return valid, rejects


def validate_dimension(df: DataFrame, dimension: int, vec_col: str = "vector"):
    """Split df into (valid, rejects) on the dimension check
    (`storage/dataset.go:451-456` DimensionMissmatchErr).

    The reference returns per-item errors (`storage/dataset.go:243-252`);
    the batch analogue is a rejects DataFrame carrying the error label.
    """
    ok = F.size(F.col(vec_col)) == dimension
    valid = df.filter(ok)
    rejects = df.filter(~ok).withColumn("error", F.lit("DIMENSION_MISMATCH"))
    return valid, rejects


@dataclass
class DatasetMeta:
    dataset_id: str
    name: str
    dimension: int
    space: str
    partition_count: int
    replication_factor: int = 1


class Catalog:
    """Parquet-backed dataset catalog (create/get/list/delete)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog_path = os.path.join(root, "_catalog")

    def _read(self) -> DataFrame:
        try:
            return self.spark.read.schema(CATALOG_SCHEMA).parquet(self.catalog_path)
        except Exception:
            return self.spark.createDataFrame([], CATALOG_SCHEMA)

    def create(
        self,
        name: str,
        dimension: int,
        space: str = "euclidean",
        partition_count: int = 4,
        replication_factor: int = 1,
    ) -> DatasetMeta:
        if space not in SPACES:
            raise ValueError(f"unknown space {space!r}")
        if dimension <= 0 or partition_count <= 0:
            raise ValueError("dimension and partition_count must be positive")
        existing = self._read().filter(F.col("name") == name).count()
        if existing:
            raise ValueError(f"dataset {name!r} already exists")
        meta = DatasetMeta(
            dataset_id=str(uuid.uuid4()),
            name=name,
            dimension=dimension,
            space=space,
            partition_count=partition_count,
            replication_factor=replication_factor,
        )
        row = self.spark.createDataFrame([vars(meta)], CATALOG_SCHEMA)
        row.write.mode("append").parquet(self.catalog_path)
        return meta

    def get(self, name: str) -> DatasetMeta | None:
        rows = self._read().filter(F.col("name") == name).collect()
        if not rows:
            return None
        r = rows[0].asDict()
        return DatasetMeta(**r)

    def list(self) -> DataFrame:
        return self._read()

    def delete(self, name: str) -> None:
        remaining = self._read().filter(F.col("name") != name)
        # rewrite-on-delete: catalog is tiny (one row per dataset)
        remaining.cache().count()
        remaining.write.mode("overwrite").parquet(self.catalog_path)
        remaining.unpersist()

    # --- data-plane helpers -------------------------------------------

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, "datasets", name)

    def write_vectors(self, name: str, df: DataFrame, mode: str = "append"):
        """Validated, routed write of (id, vector, metadata) rows.

        Returns the rejects DataFrame (dimension mismatches), mirroring
        the reference's per-item error map (`storage/dataset.go:243-252`).
        """
        meta = self.get(name)
        if meta is None:
            raise ValueError(f"dataset {name!r} not found")
        valid, rejects = validate_dimension(df, meta.dimension)
        if "metadata" in df.columns:
            valid, meta_rejects = validate_metadata(valid)
            rejects = rejects.unionByName(meta_rejects)
        routed = with_partition_id(valid, meta.partition_count)
        (
            routed.repartition(meta.partition_count, "partition_id")
            .write.mode(mode)
            .partitionBy("partition_id")
            .parquet(self.table_path(name))
        )
        return rejects

    def read_vectors(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name))
