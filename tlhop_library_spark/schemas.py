"""Schema registry: JSON-string complex columns ↔ structs on demand.

Reference parity: tlhop stores volatile complex columns as JSON
strings and re-structures them lazily with a pickled schema registry
(/root/reference/tlhop/schemas.py:11-102, applied via
``parser_complex_column`` at /root/reference/tlhop/shodan_library.py:351-368;
rationale documented there: dump schemas drift release-to-release, so
the stable table keeps strings and the registry carries the current
StructType).

Here the registry is explicit and JSON-serialized (no pickle — pickled
schemas are a versioning trap), and parsing is the codegen'd
``from_json`` — never a UDF.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType


class SchemaRegistry:
    """Named StructType store, persisted as json files in a directory."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def register(self, name: str, schema: DataType) -> None:
        with open(self._path(name), "w") as f:
            json.dump(schema.jsonValue(), f, indent=2)

    def get(self, name: str) -> StructType:
        with open(self._path(name)) as f:
            return StructType.fromJson(json.load(f))

    def names(self) -> list[str]:
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.root)
            if f.endswith(".json")
        )

    # -- the reference's parser_complex_column equivalent --------------
    def parse_column(
        self, df: DataFrame, column: str, schema_name: str | None = None
    ) -> DataFrame:
        """Replace a JSON-string column with its structured form."""
        schema = self.get(schema_name or column)
        return df.withColumn(column, F.from_json(F.col(column), schema))

    def stringify_column(self, df: DataFrame, column: str) -> DataFrame:
        """Inverse: struct → JSON string (for the stable store)."""
        return df.withColumn(column, F.to_json(F.col(column)))

    def infer_and_register(
        self, df: DataFrame, column: str, name: str | None = None
    ) -> StructType:
        """Infer the schema of a JSON-string column from the data (the
        reference's two-pass inference, schema_of_json over a sample
        union) and persist it."""
        sample = [
            r[0]
            for r in df.select(column).where(F.col(column).isNotNull())
            .limit(100).collect()
        ]
        if not sample:
            raise ValueError(f"no non-null rows in {column}")
        spark = df.sparkSession
        inferred = (
            spark.range(1)
            .select(
                F.schema_of_json(
                    F.lit(max(sample, key=len))
                ).alias("s")
            )
            .collect()[0]["s"]
        )
        parsed = spark.range(1).select(
            F.from_json(F.lit(sample[0]), inferred).alias("x")
        ).schema["x"].dataType
        self.register(name or column, parsed)
        return parsed
