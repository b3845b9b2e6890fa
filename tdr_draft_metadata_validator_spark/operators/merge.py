"""Violation merge (A3) + run verdict (A4).

The reference merges the 7 per-check error lists with a Semigroup:
group by assetId, union error sets, distinct data entries
(ErrorFileData.scala:21-33, combined via ``|+|`` at Lambda.scala:223-224).

Spark-first: all checks emit DataFrames in the common violation-row shape
(models.VIOLATION_SCHEMA); the merge is ``union`` + ONE hash-aggregate:

    groupBy(asset_id).agg(array_sort(array_distinct(collect_list(error))),
                          array_sort(array_distinct(flatten(collect_list(data)))))

``array_sort`` pins a canonical order (collect_list order is
partition-nondeterministic) so output is byte-stable across runs and
parallelism levels — required because golden tests compare exact strings
(LambdaSpec.scala:201-221 does the same).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..models import (
    Error,
    ErrorFileData,
    FileError,
    ValidationErrors,
)


def union_checks(checks: list[DataFrame]) -> DataFrame:
    """Union the per-check violation DataFrames (same schema by contract)."""
    non_empty = [c for c in checks if c is not None]
    if not non_empty:
        raise ValueError("no violation frames to union")
    return reduce(lambda a, b: a.unionByName(b), non_empty)


def merge_violations(violations: DataFrame, key_name: str = "clip_id") -> DataFrame:
    """Semigroup merge -> one row per asset.

    Output: (asset_id, errors array<struct<validation_process,property,
    error_key,message>>, data array<struct<name,value>>).

    Data payload = distinct (name,value) pairs from all errors on the
    asset, sorted by name, with the key column appended last — mirroring
    the reference's payload of error-property values + key
    (Lambda.scala:250-251).
    """
    err_struct = F.struct(
        "validation_process", "property", "error_key", "message"
    )
    merged = violations.groupBy("asset_id").agg(
        F.array_sort(F.array_distinct(F.collect_list(err_struct))).alias("errors"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(F.coalesce(
                F.col("data"), F.array().cast(violations.schema["data"].dataType)
            ))))
        ).alias("data"),
    )
    key_entry = F.struct(
        F.lit(key_name).alias("name"), F.col("asset_id").alias("value")
    )
    # drop any key-named entry collected from rules, then append the key last
    data_wo_key = F.filter(F.col("data"), lambda d: d["name"] != F.lit(key_name))
    return merged.select(
        "asset_id",
        "errors",
        F.concat(data_wo_key, F.array(key_entry)).alias("data"),
    )


def map_violation_properties(merged: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """propertyToOutputMapper analog (CSVHandler.scala:26-31): rename the
    canonical property names in merged violation rows to the caller's
    display/output headers — ``property`` inside each error struct and
    ``name`` inside each data entry. Unmapped names pass through.

    One projection (two array ``transform``s over a literal map lookup);
    no shuffle, no UDF — apply it between the merge and any sink so both
    the JSON-lines dataset and the single-document verdict speak the
    user's header language.
    """
    if not mapping:
        return merged
    lit_map = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])

    def disp(col):
        return F.coalesce(lit_map[col], col)

    errors2 = F.transform(
        F.col("errors"),
        lambda e: F.struct(
            e["validation_process"].alias("validation_process"),
            disp(e["property"]).alias("property"),
            e["error_key"].alias("error_key"),
            e["message"].alias("message"),
        ),
    )
    data2 = F.transform(
        F.col("data"),
        lambda d: F.struct(disp(d["name"]).alias("name"), d["value"].alias("value")),
    )
    return merged.select(
        "asset_id", errors2.alias("errors"), data2.alias("data")
    )


def run_verdict(merged: DataFrame) -> FileError:
    """Any violations -> SCHEMA_VALIDATION, else None (Lambda.scala:225-228)."""
    return FileError.SCHEMA_VALIDATION if not merged.isEmpty() else FileError.NONE


def collect_error_file(
    merged: DataFrame,
    consignment_id: str,
    file_error: FileError,
    include_key_in_data: bool = True,
    date: str | None = None,
) -> ErrorFileData:
    """Driver-side assembly of the final verdict document (golden tests /
    small runs; at scale use ``write_violations_json`` instead and keep
    only the per-partition verdicts).

    Deterministic: assets sorted by asset_id; errors/data pre-sorted by
    the merge aggregate.
    """
    rows = merged.orderBy("asset_id").collect()
    ves = []
    for r in rows:
        errs = [
            Error(e["validation_process"], e["property"], e["error_key"], e["message"])
            for e in r["errors"]
        ]
        data = [(d["name"], d["value"]) for d in (r["data"] or [])]
        if not include_key_in_data:
            data = []
        ves.append(ValidationErrors(r["asset_id"], errs, data))
    return ErrorFileData(
        consignmentId=consignment_id,
        fileError=file_error,
        validationErrors=ves,
        date=date,
    )


def write_violations_json(
    merged: DataFrame,
    path: str,
    mode: str = "overwrite",
    n_logical_partitions: int | None = None,
    validated_partitions: list[int] | None = None,
) -> None:
    """Distributed sink: one JSON line per asset (S4 analog at scale).

    The reference PUTs a single JSON document to S3 (Lambda.scala:316-325);
    at 10^12 rows the violations themselves are big data, so the scale
    sink is a partitioned JSON-lines dataset and the single-document form
    is reserved for small/report use.

    ``n_logical_partitions`` set -> the dataset is laid out by the same
    logical partition as the lineage manifest and written with DYNAMIC
    partition overwrite: a resumed/sub-run write replaces only its own
    partitions' output, never clobbering rows a previous sub-run already
    produced (an asset lives in exactly one logical partition, so
    re-validating a partition rewrites exactly its violations).

    ``validated_partitions`` -> the logical partitions this sub-run
    actually covered; any of them that produced ZERO violations this time
    get their stale output directory deleted (dynamic overwrite only
    touches partitions present in the written frame, so a now-clean
    partition would otherwise keep its old violation rows). Driver-side
    Hadoop-FS deletes over <= P directories — storage-agnostic and O(P).
    The written partition ids are observed on the write itself (no second
    job over ``merged``).
    """
    if n_logical_partitions:
        from pyspark.sql import Observation

        from ..plans.metrics import logical_partition

        written = Observation()
        with_pid = merged.withColumn(
            "partition_id",
            logical_partition(F.col("asset_id"), n_logical_partitions),
        ).observe(written, F.collect_set("partition_id").alias("ids"))
        (
            with_pid.write.mode(mode)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .json(path)
        )
        if validated_partitions is not None:
            present = set(written.get["ids"])
            stale = [p for p in validated_partitions if p not in present]
            if stale:
                spark = merged.sparkSession
                jvm = spark._jvm
                # resolve the FS from the OUTPUT path (FileSystem.get(conf)
                # is the default scheme's FS — "Wrong FS" on s3a:// output
                # with an HDFS/local default, crashing an otherwise-clean
                # run after the violations write)
                fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
                for p in stale:
                    hp = jvm.org.apache.hadoop.fs.Path(f"{path}/partition_id={p}")
                    if fs.exists(hp):
                        fs.delete(hp, True)
    else:
        merged.write.mode(mode).json(path)
