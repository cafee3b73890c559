"""The benchmark workloads.  Each one binds its generated inputs to
a Spark session (``prepare``), runs one untraced operation (``op``)
and one traced operation (``traced_op``) that times every layer's
public call in its own span, and reports the violation counts it saw
so the runner can compare them with the generator's.

An operation is one full validation pass over the workload's input.
Every output is fully materialized by one aggregate that reads all its
columns; ``.count()`` is never the materializing
action, because column pruning would let Spark skip most of the work.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_extended_json_schema_validator_spark import suite as suite_mod
from python_extended_json_schema_validator_spark.docshred import shred_json_strings
from python_extended_json_schema_validator_spark.engine import EngineConfig, ValidationEngine
from python_extended_json_schema_validator_spark.library_fallback import library_errors_column
from python_extended_json_schema_validator_spark.payload import image_checks, synth
from python_extended_json_schema_validator_spark.payload.validate import (
    formats_spec,
    image_table_spec,
    validate_images,
)
from python_extended_json_schema_validator_spark.schemas import SCHEMA_KEY_PROBES, load_schemas
from python_extended_json_schema_validator_spark.spec import (
    ColumnCheck,
    ForeignKeySpec,
    KeySpec,
    TableSpec,
)

import gen

Counts = Dict[Tuple[str, str], int]


def materialize(df: DataFrame) -> Counts:
    """Count violations per (constraint_id, reason) with one aggregate
    that also hashes every other column, so the whole frame is built."""
    rows = (
        df.groupBy("constraint_id", "reason")
        .agg(F.count(F.lit(1)).alias("n"),
             F.bit_xor(F.xxhash64("row_id", "observed_value", "path")).alias("h"))
        .collect()
    )
    return {(r.constraint_id, r.reason): r.n for r in rows}


def _union(frames: List[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist(StorageLevel.MEMORY_ONLY)
    df.count()  # builds the whole cached relation
    return df


class Workload:
    name = ""
    size = 0
    rows = 0  # input rows per operation
    via_suite = False  # the operation is a call into the suite module

    def __init__(self, path: str, facts: dict):
        self.path = path
        self.facts = facts
        self.rows = facts["rows"]

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Counts:
        raise NotImplementedError

    def traced_op(self, i: int, tracer) -> Counts:
        raise NotImplementedError

    def cache_inputs(self) -> None:
        """Materialize the inputs before traced operations so layer spans
        do not each pay the scan."""

    def release(self) -> None:
        pass


def _validated_layers(tracer, res, skip: Tuple[str, ...] = ()) -> Counts:
    """Materialize a ValidationResult's families one span each."""
    seen: Counts = {}
    for layer, fam in (("row_checks", res.row_viol), ("uniqueness", res.key_viol),
                       ("referential", res.ref_viol)):
        frames = [df for t, df in fam.items() if not (layer == "row_checks" and t in skip)]
        with tracer.span(layer) as sp:
            got = materialize(_union(frames)) if frames else {}
        sp["violations"] = sum(got.values())
        seen.update(got)
    return seen


class KeyedTables(Workload):
    name = "keyed_tables"
    size = 600_000

    def prepare(self, spark) -> None:
        self.spark = spark
        self.tables = {t: spark.read.parquet(os.path.join(self.path, f"{t}.parquet"))
                       for t in ("fact", "customer", "product")}
        self.engine = ValidationEngine([
            TableSpec(
                name="fact", row_id="f_id", scope_col="f_part",
                checks=[
                    ColumnCheck(column="f_qty", minimum=1, maximum=100),
                    ColumnCheck(column="f_price", minimum=0),
                    ColumnCheck(column="f_status", enum=tuple(gen.STATUSES)),
                    ColumnCheck(column="f_cust", required=True),
                    ColumnCheck(column="f_disc", maximum=0.5),
                ],
                primary_keys=[KeySpec(("f_order", "f_line"))],
                unique=[KeySpec(("f_ext",), limit_scope=True)],
                foreign_keys=[ForeignKeySpec(("f_cust",), ref_table="customer"),
                              ForeignKeySpec(("f_sku",), ref_table="product")],
                join_keys=[ForeignKeySpec(("f_code",), ref_table="product", refers_to="codes")],
            ),
            TableSpec(name="customer", row_id="c_id", primary_keys=[KeySpec(("c_id",))]),
            TableSpec(name="product", row_id="p_sku", primary_keys=[KeySpec(("p_sku",))],
                      indexes=[KeySpec(("p_code",), name="codes")]),
        ])

    def op(self, i: int) -> Counts:
        return materialize(self.engine.validate(self.tables).violations)

    def cache_inputs(self) -> None:
        self.tables = {t: _persist(df) for t, df in self.tables.items()}

    def release(self) -> None:
        for df in self.tables.values():
            df.unpersist()

    def traced_op(self, i: int, tracer) -> Counts:
        with tracer.span("engine.validate"):
            res = self.engine.validate(self.tables)
        return _validated_layers(tracer, res)


class JsonDocuments(Workload):
    name = "json_documents"
    size = 8_000
    via_suite = True

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(self.path, "docs.parquet"))
        with open(os.path.join(self.path, "schemas.json")) as f:
            self.schemas = [tuple(s) for s in json.load(f)]

    def op(self, i: int) -> Counts:
        res, _ = suite_mod.validate_json_table(self.spark, self.schemas, self.docs)
        return materialize(res.violations)

    def cache_inputs(self) -> None:
        self.docs = _persist(self.docs)

    def release(self) -> None:
        self.docs.unpersist()

    def traced_op(self, i: int, tracer) -> Counts:
        """validate_json_table's steps, one span per layer call, each
        fed its upstream output already materialized."""
        with tracer.span("schemas.load_schemas"):
            registry, _ = load_schemas(self.schemas)
        probes = [F.get_json_object(F.col("json"), f"$['{p}']") for p in SCHEMA_KEY_PROBES]
        tagged = self.docs.select("file", "json", F.coalesce(*probes).alias("__uri"))
        warned = [u for u, cs in registry.items() if cs.warnings]
        with tracer.span("docshred") as sp:
            tables = {
                uri: _persist(shred_json_strings(
                    tagged.where(F.col("__uri") == uri), cs, keep_raw=uri in warned))
                for uri, cs in registry.items()
            }
        sp["rows_out"] = sum(t.count() for t in tables.values())
        overrides = {
            uri: library_errors_column(
                registry[uri].schema, uri, registry[uri].ref_cache or {uri: registry[uri].schema},
                registry[uri].table_spec.custom_formats)
            for uri in warned
        }
        eng = ValidationEngine([cs.table_spec for cs in registry.values()],
                               config=EngineConfig(forget_mode="sequential"))
        try:
            with tracer.span("engine.validate"):
                res = eng.validate(tables, row_overrides=overrides)
            with tracer.span("library_fallback") as sp:
                seen = materialize(_union([res.row_viol[u] for u in warned]))
            sp["rows_in"] = sum(tables[u].count() for u in warned)
            sp["violations"] = sum(seen.values())
            seen.update(_validated_layers(tracer, res, skip=tuple(warned)))
        finally:
            for t in tables.values():
                t.unpersist()
        return seen


class ImagePayload(Workload):
    name = "image_payload"
    size = 40_000

    def prepare(self, spark) -> None:
        self.spark = spark
        self.images = spark.read.parquet(os.path.join(self.path, "images.parquet"))
        self.formats = synth.formats_dim(spark)

    def op(self, i: int) -> Counts:
        return materialize(validate_images(self.images, self.formats))

    def cache_inputs(self) -> None:
        self.images = _persist(self.images)

    def release(self) -> None:
        self.images.unpersist()

    def traced_op(self, i: int, tracer) -> Counts:
        eng = ValidationEngine([image_table_spec(), formats_spec()])
        with tracer.span("engine.validate"):
            res = eng.validate({"images": self.images, "formats": self.formats})
        seen = _validated_layers(tracer, res)
        with tracer.span("payload") as sp:
            got = materialize(image_checks.payload_violations(self.images))
        sp["decoded_mb"] = self.facts["decoded_mb"]
        sp["violations"] = sum(got.values())
        seen.update(got)
        ref = F.concat(F.lit("caption for image "), F.col("image_id"))
        with tracer.span("caption"):
            seen.update(materialize(image_checks.caption_violations(self.images, ref)))
        return seen


WORKLOADS = {w.name: w for w in (KeyedTables, JsonDocuments, ImagePayload)}
